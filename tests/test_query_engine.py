"""Distributed engine vs pure-Python oracle: rank-identical top-k.

The gate BASELINE.json mandates: top-k docIDs identical, per-document BM25
score deltas < 1e-9 rel, across AND/OR/NOT/PHRASE/QUERY_EVALUATOR including
the reference's IDF-pruning sentinel and shape quirks.  The index spans
multiple doc-range chunks (chunk_docs=64 over 150 docs) so intersection /
union / NOT / phrase / top-k all cross the distribution boundary.
"""

from __future__ import annotations

import numpy as np
import pytest

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.oracle.refsem import RefSemIndex
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.testing.synth import corpus_to_tokens, synth_corpus

CFG = EngineConfig(chunk_docs=64, chunks_per_batch=2, block_docs=8, n_term_buckets=8)

QUERIES = [
    ("zqmerge", SearchMode.AND),
    ("zqmerge zqshard", SearchMode.AND),
    ("zqmerge zqshard query", SearchMode.AND),
    ("parse_1 OR codec_2", SearchMode.OR),
    ("zqmerge zqshard", SearchMode.OR),
    ("parse_1 codec_2 merge_3", SearchMode.OR),
    ('"zqmerge zqshard"', SearchMode.PHRASE),
    ("zqmerge zqshard", SearchMode.PHRASE),
    ("unknown_term_xyz", SearchMode.AND),
    ("unknown_term_xyz zqmerge", SearchMode.AND),
    ("unknown_term_xyz zqmerge", SearchMode.OR),
    ("def", SearchMode.AND),  # pruned (idf < 1.5)
    ("def data", SearchMode.AND),  # all pruned -> empty
    ("def zqmerge", SearchMode.AND),  # pruned + kept (zip truncation quirk)
    ("def zqmerge zqshard", SearchMode.OR),
    ("zqmerge zqshard", SearchMode.NOT),
    ("zqmerge AND ( zqshard OR codec_2 )", SearchMode.QUERY_EVALUATOR),
    ("zqmerge AND NOT zqshard", SearchMode.QUERY_EVALUATOR),
    ('"zqmerge zqshard" OR codec_2', SearchMode.QUERY_EVALUATOR),
    ("zqmerge zqshard OR parse_1", SearchMode.QUERY_EVALUATOR),
    ("NOT zqmerge", SearchMode.QUERY_EVALUATOR),
    ("zqmerge AND ( parse_1 OR NOT codec_2 )", SearchMode.QUERY_EVALUATOR),
    ("tiny", SearchMode.AND),
    ("tiny OR zqmerge AND zqshard", SearchMode.QUERY_EVALUATOR),
]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    rows = synth_corpus(n_docs=150, seed=7)
    corpus = spark.createDataFrame(rows)
    index_dir = str(tmp_path_factory.mktemp("qindex"))
    IndexBuilder(spark, index_dir, CFG).build_all(corpus)
    engine = SearchEngine(spark, index_dir, CFG)
    oracle = RefSemIndex(corpus_to_tokens(rows))
    return engine, oracle


def _assert_rank_identical(got_rows, ref_top, label):
    got = sorted(got_rows, key=lambda r: r.rank)
    assert [r.doc_id for r in got] == [d for _s, d in ref_top], label
    for r, (s, _d) in zip(got, ref_top):
        assert r.score == pytest.approx(s, rel=1e-9, abs=1e-12), label


@pytest.mark.parametrize("use_wand", [False, True], ids=["exhaustive", "wand"])
def test_rank_identity_batch(setup, use_wand):
    engine, oracle = setup
    ranked = engine.search_batch(QUERIES, use_wand=use_wand).collect()
    by_qid: dict[int, list] = {}
    for r in ranked:
        by_qid.setdefault(r.qid, []).append(r)
    for qid, (query, mode) in enumerate(QUERIES):
        _n, ref_top = oracle.search_text(query, mode)
        _assert_rank_identical(by_qid.get(qid, []), ref_top, (query, mode))


def test_single_query_path(setup):
    engine, oracle = setup
    _n, ref_top = oracle.search_text("zqmerge zqshard", SearchMode.AND)
    got = engine.search("zqmerge zqshard", SearchMode.AND).collect()
    _assert_rank_identical(got, ref_top, "single AND")


def test_wand_stats_counters(setup):
    """The skip-rate diagnostic counts segments, flows back through the
    chunk kernels' accumulators, and only the WAND path feeds it."""
    engine, oracle = setup
    engine.enable_wand_stats()
    try:
        got = engine.search("zqmerge zqshard", SearchMode.OR).collect()
        assert got  # non-empty so the kernel actually swept
        s = engine.wand_stats()
        assert s["segments_total"] >= s["segments_scored"] > 0
        assert 0.0 <= s["skip_rate"] < 1.0
        engine.reset_wand_stats()
        assert engine.wand_stats() == {
            "segments_total": 0, "segments_scored": 0, "skip_rate": 0.0
        }
        # exhaustive path never touches the WAND sweep
        engine.search("zqmerge zqshard", SearchMode.OR, use_wand=False).collect()
        assert engine.wand_stats()["segments_total"] == 0
    finally:
        engine._wand_acc = None


def test_wand_equals_exhaustive_random_or(setup):
    """Property: block-max WAND == exhaustive on randomized OR queries."""
    engine, oracle = setup
    rng = np.random.default_rng(123)
    vocab = sorted(oracle.index.keys())
    queries = []
    for _ in range(15):
        k = int(rng.integers(1, 5))
        toks = [vocab[int(i)] for i in rng.integers(0, len(vocab), size=k)]
        queries.append((" ".join(toks), SearchMode.OR))
    a = engine.search_batch(queries, use_wand=True).collect()
    b = engine.search_batch(queries, use_wand=False).collect()
    key = lambda r: (r.qid, r.rank)
    a, b = sorted(a, key=key), sorted(b, key=key)
    assert [(r.qid, r.rank, r.doc_id) for r in a] == [
        (r.qid, r.rank, r.doc_id) for r in b
    ]
    for x, y in zip(a, b):
        assert x.score == pytest.approx(y.score, rel=1e-12)
    # and both equal the oracle
    by_qid: dict[int, list] = {}
    for r in a:
        by_qid.setdefault(r.qid, []).append(r)
    for qid, (query, mode) in enumerate(queries):
        _n, ref_top = oracle.search_text(query, mode)
        _assert_rank_identical(by_qid.get(qid, []), ref_top, (query, mode))


def test_mixed_num_return_batch(setup):
    """A batch mixing num_return=3 and num_return=15 must honour each
    query's own k (regression: the filter used the global max for all)."""
    engine, oracle = setup
    plans = [
        engine.compile("zqmerge zqshard", SearchMode.OR, qid=0, num_return=3),
        engine.compile("parse_1 codec_2 merge_3", SearchMode.OR, qid=1,
                       num_return=15),
    ]
    rows = engine.execute(plans).collect()
    by_qid: dict[int, list] = {}
    for r in rows:
        by_qid.setdefault(r.qid, []).append(r)
    _n, ref0 = oracle.search_text("zqmerge zqshard", SearchMode.OR,
                                  num_return=3)
    _n, ref1 = oracle.search_text("parse_1 codec_2 merge_3", SearchMode.OR,
                                  num_return=15)
    assert len(by_qid[0]) == len(ref0) <= 3
    assert len(by_qid[1]) == len(ref1) > 3
    _assert_rank_identical(by_qid[0], ref0, "k=3")
    _assert_rank_identical(by_qid[1], ref1, "k=15")


def test_large_heterogeneous_batch_uses_join_limit(setup):
    """>64 distinct qids exercises the broadcast-join per-qid limit path
    (the map-literal expression would otherwise grow with the batch)."""
    engine, _oracle = setup
    plans = [
        engine.compile("zqmerge zqshard", SearchMode.OR, qid=q,
                       num_return=1 + (q % 7))
        for q in range(70)
    ]
    rows = engine.execute(plans).collect()
    by_qid: dict[int, int] = {}
    for r in rows:
        by_qid[r.qid] = by_qid.get(r.qid, 0) + 1
    assert len(by_qid) == 70
    for q, n in by_qid.items():
        assert n <= 1 + (q % 7), (q, n)
    # same per-query content as a solo run
    solo = engine.execute([plans[13]]).collect()
    batch13 = sorted(
        ((r.rank, r.doc_id) for r in rows if r.qid == 13)
    )
    assert batch13 == sorted((r.rank, r.doc_id) for r in solo)


def test_num_return_above_default_candidates(setup):
    """num_return > num_candidates must widen the candidate pool, not
    silently truncate the top-k at num_candidates (ADVICE plan.py:244)."""
    engine, oracle = setup
    plan = engine.compile("def zqmerge zqshard", SearchMode.OR,
                          num_candidates=5, num_return=120)
    assert plan.num_candidates >= 120
    got = engine.execute([plan]).collect()
    _n, ref = oracle.search_text(
        "def zqmerge zqshard", SearchMode.OR,
        num_candidates=120, num_return=120,
    )
    _assert_rank_identical(got, ref, "k=120 widened pool")


def test_doc_info_join(setup):
    engine, _oracle = setup
    ranked = engine.search("zqmerge", SearchMode.AND)
    info = engine.with_doc_info(ranked).collect()
    assert len(info) > 0
    assert all(r.path is not None for r in info)


def _tree_indent(line: str) -> int:
    marks = [i for i in (line.find("+- "), line.find(":- ")) if i >= 0]
    return min(marks) if marks else -1


def _broadcast_subtrees(plan_str: str) -> list[str]:
    """Every BroadcastExchange node's subtree (tree-art indent parse)."""
    lines = plan_str.splitlines()
    subs = []
    for k, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = _tree_indent(line)
        body = [line]
        for nxt in lines[k + 1:]:
            dn = _tree_indent(nxt)
            if 0 <= dn <= d:
                break
            body.append(nxt)
        subs.append("\n".join(body))
    return subs


def test_doc_info_never_broadcasts_docs_table(setup, spark, monkeypatch):
    """The docs table is corpus-row-count sized: any BroadcastExchange
    subtree that scans it must be the LeftSemi-pruned hit set, never the
    raw table (a driver OOM at 100x scale).

    This is the plan with_doc_info runs for hit sets over its driver-side
    guard, so the guard is set to 0 here.  Without a corpus, the pruning
    semi-join is visible in the output plan; with a corpus, docs_hit is
    pinned by a lazy localCheckpoint (so the docs scan runs exactly once)
    and the output plan must broadcast only checkpointed-RDD rows — never
    a raw docs or corpus scan."""
    import search_engine_spark.query.engine as engine_mod

    monkeypatch.setattr(engine_mod, "_MAX_DRIVER_IDS", 0)
    engine, _oracle = setup
    rows = synth_corpus(n_docs=150, seed=7)
    corpus = spark.createDataFrame(rows)
    docs_loc = str(engine.store.docs_path)

    # arm 1: metadata-only — the docs broadcast must be LeftSemi-pruned
    ranked = engine.search("zqmerge", SearchMode.AND)
    meta = engine.with_doc_info(ranked)
    plan = meta._jdf.queryExecution().executedPlan().toString()
    hits = 0
    for sub in _broadcast_subtrees(plan):
        if docs_loc in sub or "/docs]" in sub:
            hits += 1
            assert "LeftSemi" in sub, sub[:2000]
    assert hits >= 1, plan[:2000]
    assert len(meta.collect()) > 0

    # arm 2: with snippets — no broadcast subtree may scan the docs
    # table or the corpus raw (only checkpointed top-k-sized RDDs and
    # the semi-join-pruned snippet rows are broadcast)
    ranked = engine.search("zqmerge", SearchMode.AND)
    out = engine.with_doc_info(ranked, corpus)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for sub in _broadcast_subtrees(plan):
        if docs_loc in sub or "/docs]" in sub:
            assert "LeftSemi" in sub, sub[:2000]
    info = out.collect()
    assert len(info) > 0 and all(r.path is not None for r in info)
    assert all(r.snippet is not None for r in info)


def test_doc_info_pushdown_matches_distributed_path(
    setup, spark, monkeypatch
):
    """with_doc_info's driver-side pushdown path and its over-guard
    distributed plan return identical rows and columns, with and without
    corpus snippets, for a multi-qid batch whose queries ask different k;
    repeated calls answered from the engine's doc-info caches agree."""
    import search_engine_spark.query.engine as engine_mod

    engine, _oracle = setup
    corpus = spark.createDataFrame(synth_corpus(n_docs=150, seed=7))
    ks = [3, 10, 5, 1, 7, 10]
    plans = [
        engine.compile(q, m, qid=i, num_return=k)
        for i, ((q, m), k) in enumerate(zip(QUERIES, ks))
    ]
    for snippets in (None, corpus):
        fast = engine.with_doc_info(engine.execute(plans), snippets)
        with monkeypatch.context() as m:
            m.setattr(engine_mod, "_MAX_DRIVER_IDS", 0)
            slow = engine.with_doc_info(engine.execute(plans), snippets)
        assert fast.schema == slow.schema
        got = fast.collect()
        assert got == slow.collect()
        per_qid = {q: sum(r.qid == q for r in got) for q in range(len(ks))}
        assert len(set(per_qid.values())) > 1  # the k's really differ
        assert all(r.path is not None for r in got)
        if snippets is not None:
            assert all(r.snippet is not None for r in got)
        again = engine.with_doc_info(engine.execute(plans), snippets)
        assert again.collect() == got


def test_query_path_job_counts(setup, spark):
    """Upper bounds on Spark jobs per call of the interactive path (AQE
    splits an action into a varying handful of jobs, so these are
    ceilings, not exact counts)."""
    import itertools

    from search_engine_spark.serve import SearchService

    engine, _oracle = setup
    sc = spark.sparkContext
    groups = itertools.count()

    def jobs_for(fn):
        group = f"query-path-{next(groups)}"
        sc.setJobGroup(group, "query path job-count assertion")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # a fresh engine, warmed by one query: the doclens side is cached
    eng = SearchEngine(spark, str(engine.store.dir), CFG)
    eng.with_doc_info(eng.search("zqmerge", SearchMode.AND)).collect()

    _plan, n_compile = jobs_for(lambda: eng.compile("codec_2", SearchMode.OR))
    assert n_compile <= 1
    rows, n_repl = jobs_for(  # zqshard is unseen: compile pays its job
        lambda: eng.with_doc_info(
            eng.search("zqmerge zqshard", SearchMode.OR)
        ).collect()
    )
    assert rows and n_repl <= 4
    out = eng.with_doc_info(eng.search("zqmerge zqshard", SearchMode.AND))
    _rows, n_collect = jobs_for(out.collect)
    assert n_collect == 0

    # serve: the batcher's worker threads carry no job group, so count
    # the ungrouped jobs submitted during one cache miss
    service = SearchService(spark, str(engine.store.dir), CFG)
    service.search({"q": "zqmerge", "mode": "AND"})

    def ungrouped():
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = max(ungrouped(), default=-1)
    body = service.search({"q": "zqmerge zqshard", "mode": "OR"})
    n_miss = sum(j > before for j in ungrouped())
    assert body["num_results"] > 0 and n_miss <= 4


def test_term_stats_lookup_is_thread_safe_on_first_use(setup):
    """Concurrent first lookups on a fresh store (a serving process's
    first request burst) all succeed and agree with serial ones."""
    from concurrent.futures import ThreadPoolExecutor

    from search_engine_spark.sources.index_store import IndexStore

    engine, _oracle = setup
    terms = [["zqmerge"], ["zqshard"], ["codec_2", "zqmerge"], ["parse_1"]]
    for _trial in range(3):
        store = IndexStore(engine.spark, str(engine.store.dir), engine.config)
        with ThreadPoolExecutor(len(terms)) as pool:
            got = list(pool.map(store.term_stats_for, terms))
        assert got == [engine.store.term_stats_for(t) for t in terms]
        assert got[0]["zqmerge"] > 0


def test_postings_scan_is_pruned(setup):
    """The postings scan must push bucket-partition + term filters down."""
    engine, _ = setup
    plan = engine.compile("zqmerge", SearchMode.AND)
    from search_engine_spark.sources.index_store import term_bucket
    from pyspark.sql import functions as F

    buckets = [term_bucket("zqmerge", CFG.n_term_buckets)]
    scan = engine._postings.where(
        F.col("bucket").isin(buckets) & F.col("term").isin(["zqmerge"])
    )
    explained = scan._jdf.queryExecution().executedPlan().toString()
    assert "zqmerge" in explained


def test_empty_query_is_empty(setup):
    """Zero-token AND/OR queries return nothing (reference: empty k-way
    merge).  Zero-token NOT is a crash path in the reference (flat shape
    leaks into flatten); pinned here as all-docs with score 0, first
    ``num_return`` ascending doc ids."""
    engine, _oracle = setup
    assert engine.search("", SearchMode.AND).collect() == []
    assert engine.search("", SearchMode.OR).collect() == []
    got = engine.search("", SearchMode.NOT).collect()
    assert [(r.doc_id, r.score) for r in sorted(got, key=lambda r: r.rank)] == [
        (i, 0.0) for i in range(10)
    ]


def test_layout_config_comes_from_index_meta(spark, tmp_path):
    """Opening an index with a mismatched layout config must still work:
    the store's meta.json pins bucket count / chunk size / tokenizer."""
    from search_engine_spark.testing.synth import synth_corpus

    rows = synth_corpus(n_docs=60, seed=2)
    d = str(tmp_path / "meta_idx")
    IndexBuilder(spark, d, CFG).build_all(spark.createDataFrame(rows))
    # open with defaults (different n_term_buckets / chunk_docs)
    eng = SearchEngine(spark, d, EngineConfig())
    assert eng.config.n_term_buckets == CFG.n_term_buckets
    assert eng.config.chunk_docs == CFG.chunk_docs
    got = eng.search("zqmerge", SearchMode.AND).collect()
    oracle = RefSemIndex(corpus_to_tokens(rows))
    _n, ref_top = oracle.search_text("zqmerge", SearchMode.AND)
    assert [r.doc_id for r in sorted(got, key=lambda r: r.rank)] == [
        d_ for _s, d_ in ref_top
    ]


def test_chunked_batch_matches_oneshot_at_10k(setup, tmp_path):
    """10k-query offline batch through search_batch_chunked: driver
    state stays O(chunk) (each slice compiles separately, eager parquet
    spill), results are identical to the one-shot path on a sample, and
    global qids survive the slicing."""
    import time

    engine, _oracle = setup
    # rare (un-pruned) terms only, so every combo returns results and the
    # qid-coverage assertion is exact
    base = ["zqmerge", "zqshard", "merge_3", "tiny"]
    queries = [
        (f"{base[i % 4]} {base[(i // 4) % 4]}", SearchMode.OR)
        for i in range(10_000)
    ]
    t0 = time.time()
    out_path = str(tmp_path / "mined")
    ranked = engine.search_batch_chunked(
        queries, num_return=5, chunk_size=2048, output_path=out_path
    )
    rows = ranked.collect()
    wall = time.time() - t0
    # every query produced results, qids cover the whole global range
    qids = {r.qid for r in rows}
    assert len(qids) == 10_000 and min(qids) == 0 and max(qids) == 9_999

    # sample parity vs the one-shot path (same qid -> same ranking)
    sample = [0, 1, 2048, 5000, 9999]
    one = engine.search_batch(
        [queries[i] for i in sample], num_return=5
    ).collect()
    got = {i: [] for i in sample}
    for r in rows:
        if r.qid in got:
            got[r.qid].append((r.rank, r.doc_id, round(r.score, 9)))
    for local_qid, global_qid in enumerate(sample):
        want = sorted(
            (r.rank, r.doc_id, round(r.score, 9))
            for r in one
            if r.qid == local_qid
        )
        assert sorted(got[global_qid]) == want, global_qid
    # the whole run is job-bound, not driver-compile-bound: 10k compiles
    # plus 5 slice jobs must land in interactive time even on local[4]
    assert wall < 300, f"chunked batch took {wall:.0f}s"


FILTER_QUERIES = [
    ("zqmerge zqshard", SearchMode.OR),
    ("zqmerge zqshard", SearchMode.AND),
    ("zqmerge", SearchMode.NOT),
    ("zqmerge AND ( zqshard OR codec_2 )", SearchMode.QUERY_EVALUATOR),
    ('"zqmerge zqshard"', SearchMode.PHRASE),
]


@pytest.mark.parametrize("query,mode", FILTER_QUERIES)
def test_doc_filter_equals_posthoc_restriction(setup, spark, query, mode):
    """doc_filter semantics: identical to running the query unfiltered
    with k = num_docs, dropping docs that fail the metadata predicate,
    and re-ranking — BM25 stats stay global.  Exercises OR/AND/NOT/
    boolean/phrase trees and the WAND-disable path."""
    from pyspark.sql import functions as F

    engine, _oracle = setup
    n = int(engine.stats["num_docs"])
    allowed = {
        r.doc_id
        for r in engine.store.read_docs()
        .where(F.col("lang") == "python")
        .select("doc_id")
        .collect()
    }
    assert 0 < len(allowed) < n  # the predicate must actually restrict

    got = engine.search(
        query, mode, num_return=10, doc_filter=F.col("lang") == "python"
    ).collect()
    full = engine.search(query, mode, num_return=n, use_wand=False).collect()
    want = [
        (r.doc_id, round(r.score, 9))
        for r in sorted(full, key=lambda r: r.rank)
        if r.doc_id in allowed
    ][:10]
    got_pairs = [
        (r.doc_id, round(r.score, 9))
        for r in sorted(got, key=lambda r: r.rank)
    ]
    assert got_pairs == want, (query, mode)
    assert all(r.doc_id in allowed for r in got)


def test_doc_filter_empty_predicate(setup, spark):
    from pyspark.sql import functions as F

    engine, _oracle = setup
    out = engine.search(
        "zqmerge", SearchMode.OR,
        doc_filter=F.col("lang") == "no_such_lang",
    ).collect()
    assert out == []


@pytest.mark.parametrize(
    "query,mode",
    [
        ("zqmerge zqshard", SearchMode.OR),
        ("zqmerge", SearchMode.NOT),
        ('"zqmerge zqshard"', SearchMode.PHRASE),
        ("zqmerge AND ( zqshard OR codec_2 )", SearchMode.QUERY_EVALUATOR),
    ],
)
def test_facet_counts_match_full_match_set(setup, spark, query, mode):
    """Facets tally EVERY matching doc (no top-k): equal to grouping the
    exhaustive result set's metadata by the facet column."""
    from collections import Counter

    from pyspark.sql import functions as F

    engine, _oracle = setup
    n = int(engine.stats["num_docs"])
    lang_of = {
        r.doc_id: r.lang
        for r in engine.store.read_docs().select("doc_id", "lang").collect()
    }
    full = engine.search(query, mode, num_return=n, use_wand=False).collect()
    want = Counter(lang_of[r.doc_id] for r in full)
    got = {
        r.value: r.n_docs
        for r in engine.facet_counts(query, mode, by="lang").collect()
    }
    assert got == dict(want), (query, mode)


def test_facet_counts_compose_with_doc_filter(setup, spark):
    from collections import Counter

    from pyspark.sql import functions as F

    engine, _oracle = setup
    n = int(engine.stats["num_docs"])
    docs = engine.store.read_docs().select("doc_id", "lang", "repo").collect()
    repo_of = {r.doc_id: r.repo for r in docs}
    allowed = {r.doc_id for r in docs if r.lang == "python"}
    full = engine.search(
        "zqmerge zqshard", SearchMode.OR, num_return=n, use_wand=False
    ).collect()
    want = Counter(
        repo_of[r.doc_id] for r in full if r.doc_id in allowed
    )
    got = {
        r.value: r.n_docs
        for r in engine.facet_counts(
            "zqmerge zqshard", SearchMode.OR, by="repo",
            doc_filter=F.col("lang") == "python",
        ).collect()
    }
    assert got == dict(want)


def test_wand_matches_exhaustive_under_doc_filter(setup, spark):
    """WAND stays enabled under a metadata filter (r4): per-segment
    candidate dropping keeps the pool over survivors while unfiltered
    block maxima remain valid upper bounds — rank-identical to the
    exhaustive path."""
    from pyspark.sql import functions as F

    engine, _oracle = setup
    pred = F.col("lang") == "python"
    for query in ["zqmerge zqshard", "def zqmerge zqshard codec_2"]:
        a = engine.search(
            query, SearchMode.OR, num_return=10,
            doc_filter=pred, use_wand=True,
        ).collect()
        b = engine.search(
            query, SearchMode.OR, num_return=10,
            doc_filter=pred, use_wand=False,
        ).collect()
        key = lambda rows: [
            (r.doc_id, r.score) for r in sorted(rows, key=lambda r: r.rank)
        ]
        assert key(a) == key(b), query
