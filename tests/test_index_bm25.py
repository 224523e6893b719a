"""End-to-end: corpus → index build → BM25 top-k rank-identical vs numpy
oracle; sha256 parity; counts; resume-from-checkpoint (north-rule gates)."""

from __future__ import annotations

import hashlib

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
    prepare_documents,
)
from kafka_connect_opensearch_spark.sources.corpus import (
    generate_corpus,
    generate_corpus_pandas,
)

N_DOCS = 400

# reference query set (FIXTURES.md §A): rare single term, stopword single
# term, conjunctions, mixed
QUERY_SET = [
    ("ident_7", "or"),
    ("return", "or"),
    ("ident_1 ident_2", "or"),
    ("ident_3 import", "or"),
    ("return import def", "or"),
    ("ident_1 ident_2", "and"),
    ("return import", "and"),
    ("nosuchtoken_xyz", "or"),
    ("ident_5 nosuchtoken_xyz", "and"),
]


def _with_ids(pdf):
    pdf = pdf.copy()
    pdf["doc_key"] = [
        DOC_KEY_SEP.join(t)
        for t in zip(pdf["repo"], pdf["path"], pdf["commit"], strict=True)
    ]
    pdf["doc_id"] = pdf["doc_key"].map(doc_id_py)
    return pdf


@pytest.fixture(scope="module")
def corpus_pdf():
    return _with_ids(generate_corpus_pandas(N_DOCS))


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    src = generate_corpus(spark, N_DOCS)
    cfg = EngineConfig(num_segments=4, salt_partitions=4, shuffle_partitions=4)
    metrics = build_index(spark, src, d, cfg)
    assert metrics.docs_indexed == N_DOCS
    assert metrics.segments_built == 4
    assert metrics.postings_written > 0
    return d


def test_corpus_is_deterministic_and_distributed(spark, corpus_pdf):
    # distributed generation equals the driver-side twin, any partitioning
    got = (
        generate_corpus(spark, 50, partitions=7)
        .orderBy("repo", "path")
        .toPandas()
    )
    want = (
        generate_corpus_pandas(50)
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_sha256_parity(spark, index_dir, corpus_pdf):
    """North-rule invariant: per-row sha256(content) equality between the
    source and the indexed docs store."""
    reader = IndexReader(spark, index_dir)
    indexed = {
        r["doc_id"]: r["content_sha256"]
        for r in reader.docs().select("doc_id", "content_sha256").collect()
    }
    assert len(indexed) == N_DOCS
    for _, row in corpus_pdf.iterrows():
        want = hashlib.sha256(row["content"].encode()).hexdigest()
        assert indexed[row["doc_id"]] == want


def test_doc_count(spark, index_dir):
    assert IndexReader(spark, index_dir).doc_count() == N_DOCS


@pytest.mark.parametrize("query,mode", QUERY_SET)
def test_bm25_rank_identical(spark, index_dir, corpus_pdf, query, mode):
    """Top-10 (doc_id, score) must be rank-identical to the brute-force
    oracle — including bit-identical float64 scores (same accumulation
    order; SURVEY.md §7.4). Both execution paths (coordinator-local
    scatter-gather and distributed per-segment scoring) must agree."""
    reader = IndexReader(spark, index_dir)
    got = reader.search(query, k=10, mode=mode).toPandas()
    want = brute_force_bm25(
        corpus_pdf, query, k=10, mode=mode, text_col="content"
    )
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(
        got["score"].to_numpy(), want["score"].to_numpy()
    )
    # distributed path (local_threshold=0 forces the Spark scorer)
    dist = reader.search(query, k=10, mode=mode, local_threshold=0).toPandas()
    assert dist["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(
        dist["score"].to_numpy(), want["score"].to_numpy()
    )


def test_search_bool_matches_bruteforce(spark, index_dir, corpus_pdf):
    """bool-query semantics: all must terms, no must_not terms, score over
    must∪should present — bit-identical to an independent numpy oracle."""
    from collections import Counter

    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py
    from kafka_connect_opensearch_spark.operators.bm25 import bm25_idf

    must, should, must_not = "ident_1", "return import", "class"
    reader = IndexReader(spark, index_dir)
    got = reader.search_bool(must=must, should=should, must_not=must_not,
                             k=10).toPandas()

    toks = [tokenize_py(t) for t in corpus_pdf["content"]]
    ids = corpus_pdf["doc_id"].to_numpy(dtype="int64")
    dls = np.array([len(t) for t in toks], dtype=np.float64)
    avgdl = dls.mean()
    n = len(toks)
    must_t = sorted(set(tokenize_py(must)))
    score_t = sorted(set(must_t) | set(tokenize_py(should)))
    not_t = sorted(set(tokenize_py(must_not)))
    k1, b = EngineConfig.k1, EngineConfig.b
    scores = np.zeros(n)
    ok = np.ones(n, dtype=bool)
    for t in must_t:
        ok &= np.array([t in Counter(tk) for tk in toks])
    for t in not_t:
        ok &= ~np.array([t in Counter(tk) for tk in toks])
    for t in score_t:
        tf = np.array([tk.count(t) for tk in toks], dtype=np.float64)
        df = int((tf > 0).sum())
        if df == 0:
            continue
        w = bm25_idf(n, df)
        has = tf > 0
        scores[has] += w * (
            tf[has] * (k1 + 1.0)
            / (tf[has] + k1 * (1.0 - b + b * dls[has] / avgdl))
        )
    idx = np.nonzero(ok)[0]
    order = np.lexsort((ids[idx], -scores[idx]))[:10]
    sel = idx[order]
    assert got["doc_id"].tolist() == ids[sel].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), scores[sel])


def test_match_count_parity(spark, index_dir, corpus_pdf):
    """match_count and match_docs (OR and AND) equal the brute-force match
    sets."""
    reader = IndexReader(spark, index_dir)
    toks = [set(t.split()) for t in corpus_pdf["content"]]
    ids = corpus_pdf["doc_id"].tolist()
    q = {"ident_1", "ident_2"}
    want = {
        "or": sorted(d for d, ts in zip(ids, toks, strict=True) if q & ts),
        "and": sorted(d for d, ts in zip(ids, toks, strict=True) if q <= ts),
    }
    for mode, want_ids in want.items():
        assert reader.match_count("ident_1 ident_2", mode) == len(want_ids)
        got = reader.match_docs("ident_1 ident_2", mode=mode).collect()
        assert sorted(r["doc_id"] for r in got) == want_ids
    got = reader.match_docs_all_terms(sorted(q)).collect()
    assert sorted(r["doc_id"] for r in got) == want["and"]
    assert reader.match_count("nosuchtoken_xyz", "or") == 0


@pytest.mark.parametrize("entry", [
    "match_count", "match_docs", "score_matches", "search_filtered",
    "search_after", "search_dis_max", "function_score_field",
])
def test_misspelled_mode_is_rejected(spark, index_dir, entry):
    """Every entry point that takes ``mode`` rejects anything but "or" /
    "and" — a misspelled "AND" must not silently run as OR."""
    reader = IndexReader(spark, index_dir)
    docs = reader.docs().select("doc_id", "dl")
    calls = {
        "match_count": lambda m: reader.match_count("return import", m),
        "match_docs": lambda m: reader.match_docs("return import", m),
        "score_matches": lambda m: reader.score_matches("return import", m),
        "search_filtered": lambda m: reader.search_filtered(
            "return import", docs, mode=m),
        "search_after": lambda m: reader.search_after(
            "return import", 1.0, 0, mode=m),
        "search_dis_max": lambda m: reader.search_dis_max(
            ["return", "import"], mode=m),
        "function_score_field": lambda m: reader.function_score_field(
            "return import", docs, "dl", mode=m),
    }
    with pytest.raises(ValueError, match="mode"):
        calls[entry]("AND")


def test_resume_from_checkpoint(spark, tmp_path, corpus_pdf):
    """Kill mid-build → resume → identical index + correct lineage metrics
    (reference offset-safety parity, OpenSearchSinkTaskIT.java:120-165)."""
    d = str(tmp_path / "idx")
    src = generate_corpus(spark, 120)
    cfg = EngineConfig(num_segments=4, salt_partitions=2)
    with pytest.raises(RuntimeError, match="fault injection"):
        build_index(spark, src, d, cfg, fail_after_batches=2)
    m2 = build_index(spark, src, d, cfg)  # resume
    assert m2.batches_skipped == 2
    assert m2.segments_built == 2
    reader = IndexReader(spark, d)
    assert reader.doc_count() == 120
    # resumed index answers queries identically to the oracle
    pdf = _with_ids(generate_corpus_pandas(120))
    got = reader.search("ident_1 return", k=10).toPandas()
    want = brute_force_bm25(pdf, "ident_1 return", k=10, text_col="content")
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), want["score"].to_numpy())


def test_wave_commit_manifests_and_noop_rerun(spark, tmp_path, corpus_pdf):
    """Wave (group) commit must still produce one manifest per micro-batch
    (resume granularity) and a re-run must skip everything."""
    from kafka_connect_opensearch_spark.operators.segments import SegmentStore

    d = str(tmp_path / "idx")
    src = generate_corpus(spark, 120)
    cfg = EngineConfig(num_segments=4, salt_partitions=2, ingest_wave_size=2)
    m = build_index(spark, src, d, cfg)
    assert m.segments_built == 4
    store = SegmentStore(d)
    assert sorted(store.committed_batches()) == [f"b{i:04d}" for i in range(4)]
    m2 = build_index(spark, src, d, cfg)
    assert m2.batches_skipped == 4 and m2.segments_built == 0
    reader = IndexReader(spark, d)
    assert reader.doc_count() == 120
    pdf = _with_ids(generate_corpus_pandas(120))
    got = reader.search("ident_1 return", k=10).toPandas()
    want = brute_force_bm25(pdf, "ident_1 return", k=10, text_col="content")
    assert got["doc_id"].tolist() == want["doc_id"].tolist()


def test_prepare_documents_ids_match_python(spark):
    src = generate_corpus(spark, 20)
    rows = prepare_documents(src).select("doc_key", "doc_id").collect()
    for r in rows:
        assert r["doc_id"] == doc_id_py(r["doc_key"])


def test_prefix_expansion_and_search(spark, index_dir, corpus_pdf):
    """Prefix rewrite: expansion = sorted dictionary terms with the prefix
    (capped); prefix_search equals an explicit OR search over them."""
    reader = IndexReader(spark, index_dir)
    exp = reader.expand_prefix("ret")
    assert exp == ["return"]
    exp_s = reader.expand_prefix("s")
    vocab = {t for toks in corpus_pdf["content"].str.split()
             for t in toks}
    assert exp_s == sorted(t for t in vocab if t.startswith("s"))[:50]
    assert reader.expand_prefix("s", max_terms=2) == exp_s[:2]
    assert reader.expand_prefix("zzz_nothing") == []
    got = reader.prefix_search("ret", k=5).collect()
    want = reader.search("return", k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_fuzzy_expansion_local_and_distributed_agree(spark, index_dir):
    """Fuzzy rewrite: coordinator dictionary scan and the distributed
    levenshtein path return the same expansion (and python _levenshtein
    matches the JVM definition)."""
    reader = IndexReader(spark, index_dir)
    local = reader.expand_fuzzy("retur", max_edits=1)
    assert "return" in local
    dist = reader.expand_fuzzy("retur", max_edits=1, local_threshold=0)
    assert dist == local
    # edit distance 2 term excluded at max_edits=1
    assert "return" not in reader.expand_fuzzy("retu", max_edits=1)
    assert "return" in reader.expand_fuzzy("retu", max_edits=2)
    n = reader.fuzzy_match_count("retur", max_edits=1)
    assert n == reader.match_count(" ".join(local), mode="or")
    assert reader.fuzzy_match_count("qqqqqqqq", max_edits=1) == 0


def test_score_matches_full_set(spark, index_dir, corpus_pdf):
    """score_matches returns EVERY matching doc with the exact BM25 score
    (no top-k cut, no pruning loss) — the field-collapsing substrate."""
    reader = IndexReader(spark, index_dir)
    q = "ident_7 return"
    got = {
        r["doc_id"]: r["score"]
        for r in reader.score_matches(q).collect()
    }
    want_df = brute_force_bm25(corpus_pdf, q, k=10**9, text_col="content")
    want = dict(zip(want_df["doc_id"], want_df["score"], strict=True))
    assert got == want and len(want) > 10


def test_fielded_index_scoped_match_and_scores(spark, tmp_path):
    """Multi-field convention: field-qualified terms scope matches to one
    field (lang:py never matches body text 'py'), and BM25 over the
    fielded index equals the numpy oracle on the composed fielded text."""
    from kafka_connect_opensearch_spark.functions.fields import (
        field_query,
        fielded_query,
        with_fielded_text,
    )

    rows = [
        (1, "py", "alpha beta py"),       # 'py' also appears in the body
        (2, "py", "beta gamma"),
        (3, "java", "alpha py alpha"),
        (4, "java", "delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, body string")
    src = with_fielded_text(df, {"lang": "lang", "body": "body"})
    d = str(tmp_path / "fidx")
    cfg = EngineConfig(num_segments=1, salt_partitions=2,
                       shuffle_partitions=2)
    build_index(spark, src, d, cfg, content_col="fielded_text",
                doc_id_col="doc_id")
    reader = IndexReader(spark, d)
    assert reader.match_count(field_query("lang", "py")) == 2
    assert reader.match_count(field_query("body", "py")) == 2   # docs 1, 3
    assert reader.match_count(field_query("body", "alpha")) == 2
    q = fielded_query({"lang": "py", "body": "alpha"})
    assert reader.match_count(q, mode="and") == 1               # doc 1 only
    got = reader.search(q, k=4).toPandas()
    pdf = src.select("doc_id", "fielded_text").toPandas()
    want = brute_force_bm25(pdf, q, k=4, text_col="fielded_text")
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(
        got["score"].to_numpy(), want["score"].to_numpy()
    )


def test_highlight_snippets_match_python(spark, index_dir, corpus_pdf):
    """Plain-highlighter fragments: earliest query-term occurrence,
    greatest(p-2, 1), 5 tokens — verified against a direct python cut."""
    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py
    from kafka_connect_opensearch_spark.operators.bm25 import (
        highlight_snippets,
    )

    reader = IndexReader(spark, index_dir)
    query = "ident_7 return"
    src = spark.createDataFrame(corpus_pdf[["doc_id", "content"]])
    hits = reader.search(query, k=5).select(
        "doc_id", F.round("score", 4).alias("score")
    )
    out = {
        r["doc_id"]: r["snippet"]
        for r in highlight_snippets(hits, src, query).collect()
    }
    assert len(out) == 5
    bydoc = dict(zip(corpus_pdf["doc_id"], corpus_pdf["content"],
                     strict=True))
    for d, snip in out.items():
        toks = tokenize_py(bydoc[d])
        ps = [toks.index(t) + 1 for t in ("ident_7", "return") if t in toks]
        if not ps:
            assert snip is None
            continue
        s = max(min(ps) - 2, 1)
        assert snip == " ".join(toks[s - 1:s - 1 + 5])


def test_significant_terms_matches_bruteforce(spark, index_dir, corpus_pdf):
    """Lift² significant-terms: foreground df over the match set, index
    background df, deterministic ordering — equals the python oracle."""
    from collections import Counter

    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py

    reader = IndexReader(spark, index_dir)
    src = spark.createDataFrame(corpus_pdf[["doc_id", "content"]])
    got = reader.significant_terms(src, "ident_7", k=5).collect()
    toksets = {
        int(r.doc_id): set(tokenize_py(r.content))
        for _, r in corpus_pdf.iterrows()
    }
    fg_docs = [d for d, s in toksets.items() if "ident_7" in s]
    fgs, n = float(len(fg_docs)), float(len(toksets))
    fgc = Counter(t for d in fg_docs for t in toksets[d])
    bgc = Counter(t for s in toksets.values() for t in s)
    want = sorted(
        (
            (round((c / fgs) * (c / fgs) / (bgc[t] / n), 6), t, c)
            for t, c in fgc.items()
        ),
        key=lambda x: (-x[0], x[1]),
    )[:5]
    assert [(r["term"], r["fg_df"], r["bg_df"], r["score"]) for r in got] == [
        (t, c, bgc[t], s) for s, t, c in want
    ]


def test_wildcard_expansion_and_count(spark, index_dir, corpus_pdf):
    """Wildcard rewrite: full-pattern dictionary match, with the literal
    prefix seeding a range scan; coordinator and distributed paths
    agree; count equals the explicit OR count."""
    reader = IndexReader(spark, index_dir)
    assert reader.expand_wildcard("retur*") == ["return"]
    assert reader.expand_wildcard("?eturn") == ["return"]
    vocab = {t for toks in corpus_pdf["content"].str.split() for t in toks}
    want = sorted(t for t in vocab if t.endswith("urn"))[:50]
    assert reader.expand_wildcard("*urn") == want      # leading wildcard
    assert reader.expand_wildcard("*urn", local_threshold=0) == want
    assert (
        reader.expand_wildcard("ret*", local_threshold=0)
        == reader.expand_wildcard("ret*")
    )
    assert reader.expand_wildcard("zz*qq") == []
    exp = reader.expand_wildcard("ident_1?")
    assert exp == sorted(
        t for t in vocab
        if t.startswith("ident_1") and len(t) == len("ident_1") + 1
    )[:50]
    n = reader.wildcard_match_count("retur*")
    assert n == reader.match_count("return", mode="or")


def test_postings_scan_pushdown(spark, index_dir):
    """Query-term lookup must push the IN-filter into the parquet scan."""
    reader = IndexReader(spark, index_dir)
    plan = (
        reader.postings(["ident_1"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "ident_1" in plan


def test_search_bool_should_only_matches_bruteforce(spark, index_dir,
                                                    corpus_pdf):
    """No must terms: any should term matches, minus must_not — exercises
    the round-4 MaxScore-pruned should-only path on both the local and the
    distributed scorer."""
    from collections import Counter

    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py
    from kafka_connect_opensearch_spark.operators.bm25 import bm25_idf

    should, must_not = "return import ident_1", "class"
    reader = IndexReader(spark, index_dir)

    toks = [tokenize_py(t) for t in corpus_pdf["content"]]
    ids = corpus_pdf["doc_id"].to_numpy(dtype="int64")
    dls = np.array([len(t) for t in toks], dtype=np.float64)
    avgdl = dls.mean()
    n = len(toks)
    score_t = sorted(set(tokenize_py(should)))
    not_t = sorted(set(tokenize_py(must_not)))
    k1, b = EngineConfig.k1, EngineConfig.b
    scores = np.zeros(n)
    any_should = np.zeros(n, dtype=bool)
    ok = np.ones(n, dtype=bool)
    for t in not_t:
        ok &= ~np.array([t in Counter(tk) for tk in toks])
    for t in score_t:
        tf = np.array([tk.count(t) for tk in toks], dtype=np.float64)
        df = int((tf > 0).sum())
        if df == 0:
            continue
        w = bm25_idf(n, df)
        has = tf > 0
        any_should |= has
        scores[has] += w * (
            tf[has] * (k1 + 1.0)
            / (tf[has] + k1 * (1.0 - b + b * dls[has] / avgdl))
        )
    idx = np.nonzero(ok & any_should)[0]
    order = np.lexsort((ids[idx], -scores[idx]))[:10]
    sel = idx[order]

    for thr in (None, 0):  # local scatter-gather AND distributed scorer
        kwargs = {} if thr is None else {"local_threshold": 0}
        got = reader.search_bool(must="", should=should, must_not=must_not,
                                 k=10, **kwargs).toPandas()
        assert got["doc_id"].tolist() == ids[sel].tolist()
        np.testing.assert_array_equal(got["score"].to_numpy(), scores[sel])


def test_search_min_should_match_bruteforce(spark, index_dir, corpus_pdf):
    """msm=2 of 3: docs matching ≥2 distinct query terms, scored over the
    matched terms — equals the numpy oracle; msm=1 equals plain OR."""
    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py
    from kafka_connect_opensearch_spark.operators.bm25 import bm25_idf

    query, m = "return import ident_1", 2
    reader = IndexReader(spark, index_dir)
    toks = [tokenize_py(t) for t in corpus_pdf["content"]]
    ids = corpus_pdf["doc_id"].to_numpy(dtype="int64")
    dls = np.array([len(t) for t in toks], dtype=np.float64)
    avgdl, n = dls.mean(), len(toks)
    k1, b = EngineConfig.k1, EngineConfig.b
    qts = sorted(set(tokenize_py(query)))
    scores = np.zeros(n)
    nmatch = np.zeros(n, dtype=np.int64)
    for t in qts:
        tf = np.array([tk.count(t) for tk in toks], dtype=np.float64)
        df = int((tf > 0).sum())
        if df == 0:
            continue
        has = tf > 0
        nmatch += has
        w = bm25_idf(n, df)
        scores[has] += w * (
            tf[has] * (k1 + 1.0)
            / (tf[has] + k1 * (1.0 - b + b * dls[has] / avgdl))
        )
    idx = np.nonzero(nmatch >= m)[0]
    sel = idx[np.lexsort((ids[idx], -scores[idx]))[:10]]
    for kwargs in ({}, {"local_threshold": 0}):  # coordinator, distributed
        got = reader.search_min_should_match(query, m, k=10,
                                             **kwargs).toPandas()
        assert got["doc_id"].tolist() == ids[sel].tolist()
        np.testing.assert_array_equal(got["score"].to_numpy(), scores[sel])
    # msm=1 degenerates to plain OR search
    or_hits = reader.search(query, k=10, mode="or").toPandas()
    msm1 = reader.search_min_should_match(query, 1, k=10).toPandas()
    assert or_hits["doc_id"].tolist() == msm1["doc_id"].tolist()


def test_search_boosted_scales_weights(spark, index_dir, corpus_pdf):
    """term^boost: boost=1.0 for every term equals plain OR; a 2× boost on
    one term is that term's contribution doubled (numpy oracle)."""
    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py
    from kafka_connect_opensearch_spark.operators.bm25 import bm25_idf

    reader = IndexReader(spark, index_dir)
    plain = reader.search("return ident_7", k=10).toPandas()
    b1 = reader.search_boosted({"return": 1.0, "ident_7": 1.0}, k=10).toPandas()
    assert plain["doc_id"].tolist() == b1["doc_id"].tolist()
    np.testing.assert_array_equal(plain["score"].to_numpy(),
                                  b1["score"].to_numpy())

    boosts = {"return": 0.5, "ident_7": 3.0}
    toks = [tokenize_py(t) for t in corpus_pdf["content"]]
    ids = corpus_pdf["doc_id"].to_numpy(dtype="int64")
    dls = np.array([len(t) for t in toks], dtype=np.float64)
    avgdl, n = dls.mean(), len(toks)
    k1, b = EngineConfig.k1, EngineConfig.b
    scores = np.zeros(n)
    any_hit = np.zeros(n, dtype=bool)
    for t, boost in boosts.items():
        tf = np.array([tk.count(t) for tk in toks], dtype=np.float64)
        df = int((tf > 0).sum())
        if df == 0:
            continue
        has = tf > 0
        any_hit |= has
        scores[has] += boost * bm25_idf(n, df) * (
            tf[has] * (k1 + 1.0)
            / (tf[has] + k1 * (1.0 - b + b * dls[has] / avgdl))
        )
    idx = np.nonzero(any_hit)[0]
    sel = idx[np.lexsort((ids[idx], -scores[idx]))[:10]]
    got = reader.search_boosted(boosts, k=10).toPandas()
    assert got["doc_id"].tolist() == ids[sel].tolist()
    # distributed path (local_threshold=0): bit-equal to the coordinator
    dist = reader.search_boosted(boosts, k=10, local_threshold=0).toPandas()
    assert dist["doc_id"].tolist() == got["doc_id"].tolist()
    np.testing.assert_array_equal(dist["score"].to_numpy(),
                                  got["score"].to_numpy())


def test_search_after_pagination_no_overlap_no_gap(spark, index_dir):
    """Pages via search_after tile the full ordering: page1+page2 ==
    top-20, disjoint, in order."""
    reader = IndexReader(spark, index_dir)
    q = "return import def"
    top20 = [(d, s) for d, s in reader.search_topk(q, k=20)]
    page1 = reader.search_topk(q, k=10)
    cd, cs = page1[-1]
    page2 = reader.search_after(q, cs, cd, k=10).collect()
    got = page1 + [(r["doc_id"], r["score"]) for r in page2]
    assert [d for d, _ in got] == [d for d, _ in top20]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in top20])


def test_search_filtered_scores_unchanged(spark, index_dir, corpus_pdf):
    """Filter context: hits restricted to the filter's doc set, scores
    IDENTICAL to the unfiltered query for surviving docs."""
    reader = IndexReader(spark, index_dir)
    allowed = corpus_pdf[corpus_pdf["doc_id"] % 3 == 0][["doc_id"]]
    fdf = spark.createDataFrame(allowed)
    got = reader.search_filtered("return import", fdf, k=10).toPandas()
    assert len(got) > 0
    assert (got["doc_id"] % 3 == 0).all()
    full = {
        r["doc_id"]: r["score"]
        for r in reader.score_matches("return import").collect()
    }
    # (no iterrows: it coerces int64 ids to float64 and corrupts them)
    for d, s in zip(got["doc_id"].tolist(), got["score"].tolist(),
                    strict=True):
        assert full[d] == s


def test_more_like_this_seed_terms_and_exclusion(spark, index_dir,
                                                 corpus_pdf):
    """MLT: query terms are the seed doc's top tf·idf terms; the result is
    the plain OR search over those terms minus the seed, same order."""
    import math

    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py

    reader = IndexReader(spark, index_dir)
    src = spark.createDataFrame(corpus_pdf[["doc_id", "content"]])
    seed = int(corpus_pdf["doc_id"].min())
    text = corpus_pdf.set_index("doc_id").loc[seed, "content"]

    from collections import Counter
    tfs = Counter(tokenize_py(text))
    n = len(corpus_pdf)
    toks_all = [set(tokenize_py(t)) for t in corpus_pdf["content"]]
    dfs = {t: sum(t in s for s in toks_all) for t in tfs}
    ranked = sorted(
        ((-round(tfs[t] * math.log(n / dfs[t]), 6), t)
         for t in tfs if dfs[t] > 0)
    )[:3]
    want_terms = [t for _, t in ranked]

    got = reader.more_like_this(seed, src, k=10, id_col="doc_id",
                                text_col="content").toPandas()
    assert seed not in set(got["doc_id"])
    plain = reader.search(" ".join(want_terms), k=11).toPandas()
    plain = plain[plain["doc_id"] != seed].head(10)
    assert got["doc_id"].tolist() == plain["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(),
                                  plain["score"].to_numpy())


def test_suggest_ranking(spark, index_dir, corpus_pdf):
    """Suggester: distance asc, df desc, term asc; input term excluded;
    every suggestion within max_edits."""
    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py
    from kafka_connect_opensearch_spark.operators.bm25 import (
        _damerau_levenshtein,
    )

    reader = IndexReader(spark, index_dir)
    got = reader.suggest("retorn", max_edits=2, size=3)
    assert got, "fixture vocab has neighbors of 'retorn' (return)"
    assert got[0][0] == "return"          # distance 1, highest df
    docsets = [set(tokenize_py(t)) for t in corpus_pdf["content"]]
    for term, dist, df in got:
        assert term != "retorn"
        assert _damerau_levenshtein(term, "retorn") == dist <= 2
        assert df == sum(term in s for s in docsets)
    keys = [(d, -df, t) for t, d, df in got]
    assert keys == sorted(keys)


def test_suggest_transposition_ranks_first(spark, index_dir):
    """The suggester's default string distance counts an adjacent swap as
    ONE edit: 'erturn' → 'return' must surface at distance 1 (plain
    Levenshtein would say 2)."""
    reader = IndexReader(spark, index_dir)
    got = reader.suggest("erturn", max_edits=1, size=3)
    assert got and got[0][0] == "return" and got[0][1] == 1


def test_suggest_expansion_cap_mirrors_oracle(spark, index_dir, corpus_pdf):
    """When the alphabetical expansion cap BINDS, the engine must equal the
    capped-CTE oracle semantics: first ``expansion_cap`` in-window terms by
    term order (seed included), then rank by (damerau, df desc, term)."""
    import duckdb

    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py

    reader = IndexReader(spark, index_dir)
    seed, cap = "ident_1", 4   # thousands of ident_* neighbors: cap binds
    got = reader.suggest(seed, max_edits=2, size=3, expansion_cap=cap)
    # engine-independent mirror of the capped oracle CTE in DuckDB
    docsets = [set(tokenize_py(c)) for c in corpus_pdf["content"]]
    vocab = sorted(set().union(*docsets))
    con = duckdb.connect()
    con.execute("CREATE TABLE dfs (term VARCHAR, df BIGINT)")
    con.executemany(
        "INSERT INTO dfs VALUES (?, ?)",
        [(t, sum(t in s for s in docsets)) for t in vocab],
    )
    want = con.execute(f"""
        WITH cand AS (
          SELECT term, df FROM dfs
          WHERE abs(len(term) - {len(seed)}) <= 2
            AND damerau_levenshtein(term, '{seed}') <= 2
          ORDER BY term ASC LIMIT {cap}
        )
        SELECT term, damerau_levenshtein(term, '{seed}')::BIGINT, df
        FROM cand WHERE term != '{seed}'
        ORDER BY 2 ASC, df DESC, term ASC LIMIT 3
    """).fetchall()
    assert [tuple(r) for r in want] == got
    # and the cap genuinely binds on this fixture
    uncapped = reader.suggest(seed, max_edits=2, size=3)
    assert got != uncapped


def test_expand_regexp_anchored_and_seeded(spark, index_dir, corpus_pdf):
    """Regexp rewrite: full-match semantics; alternation disables the
    prefix seed (a branch can bypass it); plain prefixes still seed."""
    import re

    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py

    reader = IndexReader(spark, index_dir)
    vocab = sorted({t for c in corpus_pdf["content"]
                    for t in tokenize_py(c)})
    for pattern in ("ident_[0-9]", "ret.*|imp.*", "id.nt_1+"):
        want = [t for t in vocab
                if re.fullmatch(f"(?:{pattern})", t)][:50]
        assert reader.expand_regexp(pattern) == want, pattern
    n = reader.regexp_match_count("ret.*")
    want_terms = [t for t in vocab if re.fullmatch("ret.*", t)][:50]
    docsets = [set(tokenize_py(t)) for t in corpus_pdf["content"]]
    assert n == sum(bool(s & set(want_terms)) for s in docsets)


def test_dis_max_combination(spark, index_dir):
    """dis_max: tie_breaker=0 is the pure per-doc max of the sub-query
    scores; tie>0 adds tie·(sum−max). Verified against the sub-queries'
    own score_matches output."""
    reader = IndexReader(spark, index_dir)
    q1, q2 = "return ident_1", "import ident_2"
    s1 = {r["doc_id"]: r["score"]
          for r in reader.score_matches(q1).collect()}
    s2 = {r["doc_id"]: r["score"]
          for r in reader.score_matches(q2).collect()}
    union = set(s1) | set(s2)

    for tie in (0.0, 0.3):
        want = {}
        for d in union:
            vals = [v for v in (s1.get(d), s2.get(d)) if v is not None]
            mx, sm = max(vals), sum(vals)
            want[d] = mx + tie * (sm - mx)
        top = sorted(want.items(), key=lambda t: (-t[1], t[0]))[:10]
        got = reader.search_dis_max([q1, q2], k=10,
                                    tie_breaker=tie).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == top, tie


def test_function_score_field_value_factor(spark, index_dir, corpus_pdf):
    """function_score: final = bm25 · ln(1 + factor·field), top-k
    re-ranked accordingly."""
    import math

    reader = IndexReader(spark, index_dir)
    src = spark.createDataFrame(
        corpus_pdf[["doc_id", "content"]].assign(
            n_chars=corpus_pdf["content"].str.len()
        )[["doc_id", "n_chars"]]
    )
    base = {r["doc_id"]: r["score"]
            for r in reader.score_matches("return import").collect()}
    chars = dict(zip(corpus_pdf["doc_id"], corpus_pdf["content"].str.len(),
                     strict=True))
    want = sorted(
        ((d, s * math.log(1.0 + 0.001 * chars[d])) for d, s in base.items()),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got = reader.function_score_field("return import", src, "n_chars",
                                      factor=0.001, k=10).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    np.testing.assert_allclose([r["score"] for r in got],
                               [s for _, s in want], rtol=1e-12)


def test_explain_weights_sum_to_score(spark, index_dir, corpus_pdf):
    """_explain: per-term components use the same formula as scoring, and
    the weights sum to the doc's search score (within the round-6 print
    precision); tf/df/dl match the brute-force corpus values."""
    from collections import Counter

    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py

    reader = IndexReader(spark, index_dir)
    query = "return ident_1"
    top = reader.search_topk(query, k=1)
    doc, score = top[0]
    rows = reader.explain(query, doc).collect()
    assert rows
    assert abs(sum(r["weight"] for r in rows) - score) < 1e-5
    text = corpus_pdf.set_index("doc_id").loc[doc, "content"]
    toks = Counter(tokenize_py(text))
    all_sets = [set(tokenize_py(t)) for t in corpus_pdf["content"]]
    for r in rows:
        assert r["tf"] == toks[r["term"]]
        assert r["dl"] == sum(toks.values())
        assert r["df"] == sum(r["term"] in s for s in all_sets)
    # a doc that doesn't match → empty explain
    missing = int(corpus_pdf["doc_id"].max()) + 12345
    assert reader.explain(query, missing).count() == 0


def test_index_stats_matches_manifest(spark, index_dir):
    reader = IndexReader(spark, index_dir)
    st = reader.index_stats()
    assert st["docs"] == N_DOCS
    assert st["segments"] == 4
    assert st["postings"] > 0 and st["sum_terms"] > 0
    assert st["avgdl"] > 0


def test_damerau_levenshtein_matches_duckdb():
    """The transpositions metric must equal DuckDB's damerau_levenshtein
    (the oracle's function) — unrestricted DL, not OSA: 'ca'→'abc' is 2."""
    import random

    import duckdb

    from kafka_connect_opensearch_spark.operators.bm25 import (
        _damerau_levenshtein,
    )

    con = duckdb.connect()
    assert _damerau_levenshtein("ca", "abc") == 2   # the OSA-vs-DL case
    assert _damerau_levenshtein("lsow", "slow") == 1
    rng = random.Random(7)
    for _ in range(500):
        a = "".join(rng.choices("abcd", k=rng.randint(0, 7)))
        b = "".join(rng.choices("abcd", k=rng.randint(0, 7)))
        want = con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]
        ).fetchone()[0]
        assert _damerau_levenshtein(a, b) == want, (a, b)


def test_damerau_batch_equals_scalar():
    """The vectorized (numpy DP) batch metric used on the distributed
    fuzzy path must equal the scalar Lowrance-Wagner for every pair —
    including empty strings, pure transpositions, and the OSA-vs-DL
    case."""
    import random

    from kafka_connect_opensearch_spark.operators.bm25 import (
        _damerau_levenshtein,
        _damerau_levenshtein_batch,
    )

    rng = random.Random(11)
    queries = ["", "a", "ca", "return", "ident_1", "erturn", "abcd"]
    terms = ["", "ca", "abc", "acb", "return", "retrun", "ident_10",
             "ident_999", "slow", "lsow"] + [
        "".join(rng.choices("abcd_", k=rng.randint(0, 9)))
        for _ in range(300)
    ]
    for q in queries:
        got = _damerau_levenshtein_batch(q, terms)
        want = [_damerau_levenshtein(q, t) for t in terms]
        assert got.tolist() == want, q


def test_expand_fuzzy_transpositions_both_paths(spark, index_dir, corpus_pdf):
    """transpositions=True (OpenSearch fuzzy default metric): an adjacent
    swap is one edit — 'erturn' reaches 'return' at max_edits=1 only with
    the Damerau metric; the coordinator and the distributed (pandas-UDF)
    paths agree."""
    reader = IndexReader(spark, index_dir)
    assert "return" not in reader.expand_fuzzy("erturn", max_edits=1)
    local = reader.expand_fuzzy("erturn", max_edits=1, transpositions=True)
    assert "return" in local
    dist = reader.expand_fuzzy("erturn", max_edits=1, transpositions=True,
                               local_threshold=0)
    assert dist == local


def test_search_filtered_pushdown_and_fallback_agree(spark, index_dir,
                                                     corpus_pdf):
    """The selective-filter pushdown path (restrict posting lists before
    scoring) must return exactly the semi-join fallback's results — and
    both must equal the unfiltered scores for surviving docs."""
    reader = IndexReader(spark, index_dir)
    allowed = corpus_pdf[corpus_pdf["doc_id"] % 2 == 0][["doc_id"]]
    fdf = spark.createDataFrame(allowed)
    push = reader.search_filtered("return import", fdf, k=10).toPandas()
    semi = reader.search_filtered("return import", fdf, k=10,
                                  max_pushdown_ids=0).toPandas()
    assert push["doc_id"].tolist() == semi["doc_id"].tolist()
    np.testing.assert_array_equal(push["score"].to_numpy(),
                                  semi["score"].to_numpy())
    assert (push["doc_id"] % 2 == 0).all() and len(push) > 0
    # empty filter short-circuits
    empty = spark.createDataFrame([], "doc_id long")
    assert reader.search_filtered("return", empty, k=5).count() == 0


def test_wide_filter_absent_from_some_segments(spark, index_dir):
    """A wide (cogrouped) filter whose docs live in only one segment: the
    other segments get an empty restrict array and contribute nothing,
    and the rows equal the selective-pushdown path."""
    reader = IndexReader(spark, index_dir)
    seg_docs = reader.store.read_docs(spark, reader._segments,  # noqa: SLF001
                                      with_seg=True)
    one_seg = seg_docs.select("seg").orderBy("seg").first()["seg"]
    fdf = seg_docs.filter(F.col("seg") == one_seg).select("doc_id")
    wide = reader.search_filtered("return import", fdf, k=10,
                                  max_pushdown_ids=0).collect()
    push = reader.search_filtered("return import", fdf, k=10).collect()
    assert [tuple(r) for r in wide] == [tuple(r) for r in push] and push


def test_search_bool_filter_clause(spark, index_dir, corpus_pdf):
    """The bool query's fourth clause: filter context restricts hits
    without touching scores — pushdown and semi-join fallback agree, and
    both equal the unfiltered bool result restricted to the filter set."""
    reader = IndexReader(spark, index_dir)
    allowed_pdf = corpus_pdf[corpus_pdf["doc_id"] % 2 == 0][["doc_id"]]
    fdf = spark.createDataFrame(allowed_pdf)
    kwargs = {"must": "ident_1", "should": "return import",
              "must_not": "class"}

    unfiltered = reader.search_bool(**kwargs, k=1000).toPandas()
    allow = set(allowed_pdf["doc_id"])
    want = unfiltered[unfiltered["doc_id"].isin(allow)].head(10)

    push = reader.search_bool(**kwargs, k=10, filter_ids=fdf).toPandas()
    semi = reader.search_bool(**kwargs, k=10, filter_ids=fdf,
                              max_pushdown_ids=0).toPandas()
    assert push["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(push["score"].to_numpy(),
                                  want["score"].to_numpy())
    assert semi["doc_id"].tolist() == push["doc_id"].tolist()
    np.testing.assert_array_equal(semi["score"].to_numpy(),
                                  push["score"].to_numpy())
    # empty filter short-circuits; should-only + filter also works
    empty = spark.createDataFrame([], "doc_id long")
    assert reader.search_bool(**kwargs, k=5, filter_ids=empty).count() == 0
    so = reader.search_bool(should="return import", k=10,
                            filter_ids=fdf).toPandas()
    assert len(so) and all(d % 2 == 0 for d in so["doc_id"])


def test_selective_filter_ships_via_broadcast(spark, index_dir, monkeypatch):
    """Round-5 pin (VERDICT r4 #6): the distributed selective-filter path
    must ship the restrict-id array as an explicit sc.broadcast (one
    serialized copy per executor), not a per-task closure capture — with
    rows identical to the coordinator-local path."""
    reader = IndexReader(spark, index_dir)
    ids = reader.docs().select("doc_id").filter(F.col("doc_id") % 2 == 0)
    calls = []
    orig = spark.sparkContext.broadcast

    def spy(v):
        calls.append(v)
        return orig(v)

    monkeypatch.setattr(spark.sparkContext, "broadcast", spy)
    dist = reader.search_bool(must="return", should="import", k=8,
                              filter_ids=ids, local_threshold=0).collect()
    assert any(isinstance(c, np.ndarray) for c in calls)
    loc = reader.search_bool(must="return", should="import", k=8,
                             filter_ids=ids).collect()
    assert [tuple(r) for r in dist] == [tuple(r) for r in loc]


def test_parse_min_should_match_grammar():
    """Lucene minimum_should_match spec forms: fixed, negative,
    percentage (round DOWN), negative percentage, clamping."""
    from kafka_connect_opensearch_spark.operators.bm25 import (
        parse_min_should_match as p,
    )

    assert p(2, 5) == 2
    assert p("3", 5) == 3
    assert p("-2", 5) == 3
    assert p("75%", 4) == 3      # floor(3.0)
    assert p("75%", 5) == 3      # floor(3.75) rounds DOWN
    assert p("-25%", 4) == 3     # 4 - floor(1.0)
    assert p("-30%", 5) == 4     # 5 - floor(1.5)
    assert p("100%", 7) == 7
    assert p("10", 4) == 4       # clamped to n_optional
    assert p("-10", 4) == 0      # clamped to 0


def test_multi_match_best_fields_is_dis_max_of_field_queries(spark,
                                                            index_dir):
    """best_fields == dis_max over the per-field qualified queries (the
    OpenSearch definition) — pinned by composing both explicitly."""
    from kafka_connect_opensearch_spark.functions.fields import (
        field_query,
        multi_match_best_fields,
    )

    reader = IndexReader(spark, index_dir)
    # the plain index has no field prefixes; use raw terms as two
    # pseudo-fields by composing the same call path
    got = multi_match_best_fields(reader, "return import", ["a"],
                                  k=5, tie_breaker=0.25).collect()
    want = reader.search_dis_max(
        [field_query("a", "return import")], k=5, tie_breaker=0.25
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_match_count_local_equals_distributed(spark, index_dir):
    """The coordinator match_count fast path must equal the per-segment
    Spark path exactly, for OR/AND/missing-term shapes."""
    reader = IndexReader(spark, index_dir)
    for q, m in [("return import", "or"), ("return import", "and"),
                 ("ident_1 ident_2", "and"), ("nosuchtoken_xyz", "or"),
                 ("ident_5 nosuchtoken_xyz", "and")]:
        local = reader.match_count(q, m)
        dist = reader.match_count(q, m, local_threshold=0)
        assert local == dist, (q, m, local, dist)
