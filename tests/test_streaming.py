"""Structured-Streaming ingestion: staged arrival -> chunk-aligned
increments -> index identical to a one-shot batch build over the same
corpus (and rank-identical to the refsem oracle at every step)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.oracle.refsem import RefSemIndex
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.sources.index_store import IndexStore
from search_engine_spark.streaming import StreamingIndexer
from search_engine_spark.testing.synth import corpus_to_tokens, synth_corpus

CFG = EngineConfig(chunk_docs=64, chunks_per_batch=2, block_docs=8,
                   n_term_buckets=8)
QUERIES = [
    ("zqmerge zqshard", SearchMode.OR),
    ("zqmerge", SearchMode.AND),
    ("zqmerge AND ( zqshard OR codec_2 )", SearchMode.QUERY_EVALUATOR),
]


def _waves():
    """150 docs in two arrival waves whose key prefixes make arrival
    order == global (repo,path,commit) order, so streaming doc ids equal
    the batch build's ids and full rank-identity is checkable."""
    rows = synth_corpus(n_docs=150, seed=7)
    wave1 = [dict(r, repo="a-" + r["repo"]) for r in rows[:96]]
    wave2 = [dict(r, repo="b-" + r["repo"]) for r in rows[96:]]
    return wave1, wave2


def _ranked(engine, query, mode):
    got = engine.search(query, mode).collect()
    return [(r.doc_id, pytest.approx(r.score, rel=1e-9))
            for r in sorted(got, key=lambda r: r.rank)]


def test_streaming_ingest_matches_batch_build(spark, tmp_path):
    from pyspark.sql import types as T

    wave1, wave2 = _waves()
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src_dir = str(tmp_path / "arrivals")
    index_dir = str(tmp_path / "stream_idx")
    staging = str(tmp_path / "staging")
    cols = ["repo", "path", "commit", "lang", "content"]

    spark.createDataFrame(wave1, schema=schema).select(*cols).write.mode(
        "append"
    ).parquet(src_dir)
    indexer = StreamingIndexer(spark, index_dir, staging, CFG)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    indexer.start(stream, available_now=True)
    r1 = indexer.advance()
    # 96 staged docs -> one full 64-doc chunk indexed, 32 left staged
    assert r1["indexed"] == 64 and r1["staged_tail"] == 32
    assert r1["num_docs"] == 64

    # intermediate index is rank-identical to the oracle over the first
    # 64 docs (sorted order == arrival order by construction)
    first64 = sorted(wave1, key=lambda r: (r["repo"], r["path"], r["commit"]))[:64]
    oracle64 = RefSemIndex(corpus_to_tokens(first64))
    eng64 = SearchEngine(spark, index_dir, CFG)
    for q, m in QUERIES:
        _n, ref = oracle64.search_text(q, m)
        assert _ranked(eng64, q, m) == [
            (d, pytest.approx(s, rel=1e-9)) for s, d in ref
        ], (q, "intermediate")

    # idempotent when nothing new is alignable
    assert indexer.advance()["indexed"] == 0

    # wave 2 arrives; the file-sink checkpoint stages only the new files
    spark.createDataFrame(wave2, schema=schema).select(*cols).write.mode(
        "append"
    ).parquet(src_dir)
    stream2 = spark.readStream.schema(schema).parquet(src_dir)
    indexer.start(stream2, available_now=True)
    assert indexer.staged_corpus().count() == 150  # no duplicates staged
    r2 = indexer.advance(final=True)
    assert r2["indexed"] == 86 and r2["num_docs"] == 150

    # final index == one-shot batch build over the combined corpus
    all_rows = wave1 + wave2
    batch_dir = str(tmp_path / "batch_idx")
    IndexBuilder(spark, batch_dir, CFG).build_all(
        spark.createDataFrame(all_rows, schema=schema)
    )
    stream_eng = SearchEngine(spark, index_dir, CFG)
    batch_eng = SearchEngine(spark, batch_dir, CFG)
    docs_a = sorted(tuple(r) for r in stream_eng.store.read_docs().collect())
    docs_b = sorted(tuple(r) for r in batch_eng.store.read_docs().collect())
    assert docs_a == docs_b
    oracle = RefSemIndex(corpus_to_tokens(all_rows))
    for q, m in QUERIES:
        a = _ranked(stream_eng, q, m)
        assert a == _ranked(batch_eng, q, m), q
        _n, ref = oracle.search_text(q, m)
        assert a == [(d, pytest.approx(s, rel=1e-9)) for s, d in ref], q
    # per-row sha invariant holds over the streamed corpus
    res = IndexBuilder(spark, index_dir, CFG).verify_corpus(
        spark.createDataFrame(all_rows, schema=schema)
    )
    assert res == {"rows": 150, "missing": 0, "sha_mismatch": 0}


def test_streaming_many_small_waves(spark, tmp_path):
    """Waves smaller than a chunk accumulate in staging until a chunk
    boundary is crossed; lineage batches stay chunk-aligned throughout."""
    from pyspark.sql import types as T

    rows = synth_corpus(n_docs=100, seed=11)
    # arrival prefix a0 < a1 < a2 keeps arrival order == sort order
    waves = [
        [dict(r, repo=f"a{w}-" + r["repo"]) for r in rows[w * 33:(w + 1) * 33]]
        for w in range(3)
    ]
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src = str(tmp_path / "arrivals")
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    cols = ["repo", "path", "commit", "lang", "content"]
    seen = 0
    for w, wave in enumerate(waves):
        spark.createDataFrame(wave, schema=schema).select(*cols).write.mode(
            "append"
        ).parquet(src)
        indexer.start(
            spark.readStream.schema(schema).parquet(src), available_now=True
        )
        r = indexer.advance()
        seen += len(wave)
        assert r["num_docs"] == (seen // 64) * 64
        assert r["num_docs"] + r["staged_tail"] == seen
    r = indexer.advance(final=True)
    assert r["num_docs"] == 99
    eng = SearchEngine(spark, str(tmp_path / "idx"), CFG)
    all_sorted = sorted(
        (row for wave in waves for row in wave),
        key=lambda x: (x["repo"], x["path"], x["commit"]),
    )
    oracle = RefSemIndex(corpus_to_tokens(all_sorted))
    _n, ref = oracle.search_text("zqmerge", SearchMode.AND)
    assert _ranked(eng, "zqmerge", SearchMode.AND) == [
        (d, pytest.approx(s, rel=1e-9)) for s, d in ref
    ]


def test_streaming_torn_increment_detected(spark, tmp_path):
    """A docs-table append without its lineage commit (torn increment)
    must be detected on the next advance, not silently re-numbered."""
    from pyspark.sql import types as T

    rows = synth_corpus(n_docs=80, seed=13)
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src = str(tmp_path / "arrivals")
    cols = ["repo", "path", "commit", "lang", "content"]
    spark.createDataFrame(rows, schema=schema).select(*cols).write.parquet(src)
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    indexer.start(
        spark.readStream.schema(schema).parquet(src), available_now=True
    )
    assert indexer.advance()["indexed"] == 64
    # simulate the torn state: extra docs rows, no lineage for them
    store = indexer.builder.store
    extra = store.read_docs().limit(1).withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    extra.write.mode("append").parquet(store.docs_path)
    with pytest.raises(RuntimeError, match="torn"):
        indexer.advance(final=True)


def test_advance_before_any_staging_is_noop(spark, tmp_path):
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    r = indexer.advance()
    assert (r["indexed"], r["staged_tail"], r["num_docs"]) == (0, 0, 0)


def _stage_wave(spark, indexer, src, wave, schema):
    cols = ["repo", "path", "commit", "lang", "content"]
    spark.createDataFrame(wave, schema=schema).select(*cols).write.mode(
        "append"
    ).parquet(src)
    indexer.start(
        spark.readStream.schema(schema).parquet(src), available_now=True
    )


def test_advance_reads_only_the_increment(spark, tmp_path):
    """The Kth advance must be O(increment): after the first advance
    establishes the consumed high-water mark, later advances scan only
    the newly staged sink files (plus the bounded sub-chunk tail) — no
    full-staging rescan, no docs anti-join."""
    from pyspark.sql import types as T

    rows = synth_corpus(n_docs=240, seed=23)
    waves = [
        [dict(r, repo=f"a{w}-" + r["repo"]) for r in rows[w * 80:(w + 1) * 80]]
        for w in range(3)
    ]
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src = str(tmp_path / "arrivals")
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    _stage_wave(spark, indexer, src, waves[0], schema)
    r1 = indexer.advance()
    # first-ever advance has no state yet -> one full scan, then sealed
    assert r1["indexed"] == 64 and r1["scan"]["mode"] == "rescan"

    for wave, n_before in ((waves[1], 64), (waves[2], 128)):
        _stage_wave(spark, indexer, src, wave, schema)
        r = indexer.advance()
        assert r["scan"]["mode"] == "incremental"
        # exactly the files of the new sink batch (one per wave write
        # here), never the full staged history
        log = indexer._sink_log()
        newest = log[max(log)]
        assert 0 < r["scan"]["delta_files"] <= len(newest)
        # tail stays sub-chunk-bounded: exactly the docs above the last
        # chunk boundary, never the full staged history
        assert r["scan"]["tail_rows"] == {64: 16, 128: 32}[n_before]
    rf = indexer.advance(final=True)
    assert rf["num_docs"] == 240

    # the final index matches the refsem oracle over the full corpus
    eng = SearchEngine(spark, str(tmp_path / "idx"), CFG)
    all_sorted = sorted(
        (row for wave in waves for row in wave),
        key=lambda x: (x["repo"], x["path"], x["commit"]),
    )
    oracle = RefSemIndex(corpus_to_tokens(all_sorted))
    _n, ref = oracle.search_text("zqmerge", SearchMode.AND)
    assert _ranked(eng, "zqmerge", SearchMode.AND) == [
        (d, pytest.approx(s, rel=1e-9)) for s, d in ref
    ]


def test_stale_state_recovers_by_rescan(spark, tmp_path):
    """A crash between lineage commit and state write leaves the state
    stale; the next advance detects it, falls back to the anti-join
    rescan, indexes correctly, and repairs the state."""
    import os

    from pyspark.sql import types as T

    rows = synth_corpus(n_docs=200, seed=29)
    waves = [
        [dict(r, repo=f"a{w}-" + r["repo"]) for r in rows[w * 100:(w + 1) * 100]]
        for w in range(2)
    ]
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src = str(tmp_path / "arrivals")
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    _stage_wave(spark, indexer, src, waves[0], schema)
    assert indexer.advance()["indexed"] == 64
    # simulate the crash window: state file lost after the commit
    os.remove(indexer._state_path)
    _stage_wave(spark, indexer, src, waves[1], schema)
    r = indexer.advance()
    assert r["scan"]["mode"] == "rescan"
    assert r["num_docs"] == 192  # 200 staged -> 3 aligned chunks
    # state repaired: the next wave goes back to the incremental path
    assert indexer.advance()["scan"]["mode"] == "incremental"


def test_sealed_index_rejects_new_docs(spark, tmp_path):
    """advance(final=True) flushing a partial chunk seals the index; a
    later advance with newly staged docs must raise, not re-emit the
    committed partial (term, chunk) rows in a second lineage batch."""
    from pyspark.sql import types as T

    rows = synth_corpus(n_docs=120, seed=31)
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src = str(tmp_path / "arrivals")
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    wave1 = [dict(r, repo="a-" + r["repo"]) for r in rows[:90]]
    wave2 = [dict(r, repo="b-" + r["repo"]) for r in rows[90:]]
    _stage_wave(spark, indexer, src, wave1, schema)
    assert indexer.advance(final=True)["num_docs"] == 90  # partial chunk
    _stage_wave(spark, indexer, src, wave2, schema)
    with pytest.raises(RuntimeError, match="sealed"):
        indexer.advance()
    # but a sealed index with nothing new stays quietly idempotent
    # (the staged-but-rejected docs remain visible)
    assert indexer.staged_corpus().count() == 120


def test_compact_staging_retires_consumed_files(spark, tmp_path):
    """compact_staging deletes fully consumed sink files; queries over
    the index and later advances keep working."""
    from pyspark.sql import types as T

    rows = synth_corpus(n_docs=200, seed=37)
    waves = [
        [dict(r, repo=f"a{w}-" + r["repo"]) for r in rows[w * 100:(w + 1) * 100]]
        for w in range(2)
    ]
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src = str(tmp_path / "arrivals")
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    _stage_wave(spark, indexer, src, waves[0], schema)
    r = indexer.advance()
    assert r["indexed"] == 64 and r["staged_tail"] == 36
    c = indexer.compact_staging()
    assert c["retired_files"] > 0
    # consumed docs survive in index + tail: staged view shows the tail
    assert indexer.staged_corpus().count() == 36
    # the next wave indexes incrementally on top of the compacted staging
    _stage_wave(spark, indexer, src, waves[1], schema)
    r2 = indexer.advance(final=True)
    assert r2["scan"]["mode"] == "incremental"
    assert r2["num_docs"] == 200
    eng = SearchEngine(spark, str(tmp_path / "idx"), CFG)
    all_sorted = sorted(
        (row for wave in waves for row in wave),
        key=lambda x: (x["repo"], x["path"], x["commit"]),
    )
    oracle = RefSemIndex(corpus_to_tokens(all_sorted))
    _n, ref = oracle.search_text("zqmerge", SearchMode.AND)
    assert _ranked(eng, "zqmerge", SearchMode.AND) == [
        (d, pytest.approx(s, rel=1e-9)) for s, d in ref
    ]


def test_ingest_continues_after_delete_and_compact(spark, tmp_path):
    """The documented lifecycle ingest -> delete -> compact -> KEEP
    STREAMING: the torn-increment gate must not fire after a physical
    purge (lineage n_docs means ids ALLOCATED, which survives purges;
    the docs table keeps tombstoned rows, so docs.count() == the
    committed lineage sum throughout)."""
    from pyspark.sql import types as T

    rows = synth_corpus(n_docs=192, seed=41)
    wave1 = [dict(r, repo="a-" + r["repo"]) for r in rows[:128]]
    wave2 = [dict(r, repo="b-" + r["repo"]) for r in rows[128:]]
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src = str(tmp_path / "arrivals")
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    _stage_wave(spark, indexer, src, wave1, schema)
    assert indexer.advance()["indexed"] == 128

    builder = indexer.builder
    victims = [3, 10, 77]
    assert builder.delete_docs(victims)["deleted"] == 3
    out = builder.compact()
    assert out["compacted"] and out["purged_docs"] == 3
    builder.vacuum()
    # allocated-ids identity holds after the purge
    assert builder.store.read_docs().count() == 128
    assert indexer._lineage_doc_count() == 128

    # the next increment folds in without a torn-increment error
    _stage_wave(spark, indexer, src, wave2, schema)
    r = indexer.advance(final=True)
    assert r["indexed"] == 64
    eng = SearchEngine(spark, str(tmp_path / "idx"), CFG)
    survivors = {
        r.doc_id
        for r in eng.search("zqmerge", SearchMode.NOT, num_return=10_000)
        .collect()
    }
    assert not survivors & set(victims)
    assert max(survivors) >= 128  # wave-2 docs are searchable


def test_staged_corpus_survives_state_loss_after_compact_staging(
    spark, tmp_path
):
    """compact_staging deletes sink data files; if the advance state is
    later lost, staged_corpus must NOT fall back to the sink-log view
    (whose entries reference the deleted files) — the redundant
    compacted_upto marker + on-disk tail carry the recovery."""
    import os
    from pyspark.sql import types as T

    rows = synth_corpus(n_docs=100, seed=43)
    wave = [dict(r, repo="a-" + r["repo"]) for r in rows]
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src = str(tmp_path / "arrivals")
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    _stage_wave(spark, indexer, src, wave, schema)
    r = indexer.advance()
    assert r["indexed"] == 64 and r["staged_tail"] == 36
    assert indexer.compact_staging()["retired_files"] > 0

    os.remove(indexer._state_path)  # the documented failure scenario
    recovered = indexer.staged_corpus()
    assert recovered.count() == 36  # the persisted tail, not a crash
    # and the stream keeps going: the rescan path re-indexes the tail
    rf = indexer.advance(final=True)
    assert rf["num_docs"] == 100


def test_incremental_finalize_equals_full(spark, tmp_path):
    """advance() folds each increment into stats/term_stats in
    O(increment + vocab) (finalize_incremental); the result must be
    BIT-identical to a full finalize() over the same index — averages
    (int-sum / count), df sums and n_chunks counts all exact."""
    from pyspark.sql import types as T

    rows = synth_corpus(n_docs=192, seed=47)
    waves = [rows[:64], rows[64:128], rows[128:]]
    waves = [
        [dict(r, repo=f"a{w}-" + r["repo"]) for r in wave]
        for w, wave in enumerate(waves)
    ]
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src = str(tmp_path / "arrivals")
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    for wave in waves:
        _stage_wave(spark, indexer, src, wave, schema)
        indexer.advance()
    inc_stats = indexer.builder.store.read_stats()
    inc_ts = sorted(
        (r.bucket, r.term, r.df, r.n_chunks)
        for r in indexer.builder.store.read_term_stats().collect()
    )
    full_stats = indexer.builder.finalize()  # full O(index) recompute
    full_ts = sorted(
        (r.bucket, r.term, r.df, r.n_chunks)
        for r in indexer.builder.store.read_term_stats().collect()
    )
    for k, v in full_stats.items():
        assert inc_stats[k] == v, (k, inc_stats[k], v)
    assert inc_ts == full_ts


def test_stale_stats_base_heals_on_next_advance(spark, tmp_path):
    """The r4-ADVICE crash window: a crash AFTER _run_batch's lineage
    append but BEFORE finalize_incremental's pending marker leaves stats
    that silently miss one batch — no marker on disk, and the
    torn-increment gate (docs rows == lineage ids sum) still passes.
    The stats file's ``ids_covered`` stamp must detect the stale base on
    the NEXT advance and rebuild via the full finalize instead of
    compounding the error forever."""
    import shutil

    from pyspark.sql import types as T

    rows = synth_corpus(n_docs=192, seed=47)
    waves = [
        [dict(r, repo=p + r["repo"]) for r in rows[i:i + 64]]
        for p, i in (("a-", 0), ("b-", 64), ("c-", 128))
    ]
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    src = str(tmp_path / "arrivals")
    indexer = StreamingIndexer(
        spark, str(tmp_path / "idx"), str(tmp_path / "stg"), CFG
    )
    store = indexer.builder.store

    _stage_wave(spark, indexer, src, waves[0], schema)
    indexer.advance()
    # snapshot the wave-1-era stats + term_stats
    snap = tmp_path / "stale_snap"
    shutil.copytree(store.stats_path, snap / "stats")
    shutil.copytree(store.term_stats_path, snap / "term_stats")

    _stage_wave(spark, indexer, src, waves[1], schema)
    indexer.advance()
    # simulate the crash: wave 2's lineage/postings/docs are committed,
    # but its stats fold is lost (and no pending marker exists)
    shutil.rmtree(store.stats_path)
    shutil.rmtree(store.term_stats_path)
    shutil.copytree(snap / "stats", store.stats_path)
    shutil.copytree(snap / "term_stats", store.term_stats_path)
    assert store.read_stats()["num_docs"] == 64  # stale base in place
    assert not __import__("os").path.exists(store.pending_finalize_path)

    # next advance must detect ids_covered(64) != lineage-sum(192) - 64
    # and heal through the full finalize — covering the lost wave too
    _stage_wave(spark, indexer, src, waves[2], schema)
    r = indexer.advance(final=True)
    assert r["num_docs"] == 192
    healed = store.read_stats()
    assert healed["num_docs"] == 192
    assert healed["ids_covered"] == 192
    full = indexer.builder.finalize()  # idempotent O(index) recompute
    for k, v in full.items():
        assert healed[k] == v, (k, healed[k], v)
    # and search over the healed index is rank-identical to the oracle
    eng = SearchEngine(spark, str(tmp_path / "idx"), CFG)
    all_sorted = sorted(
        (row for wave in waves for row in wave),
        key=lambda x: (x["repo"], x["path"], x["commit"]),
    )
    oracle = RefSemIndex(corpus_to_tokens(all_sorted))
    _n, ref = oracle.search_text("zqmerge", SearchMode.AND)
    assert _ranked(eng, "zqmerge", SearchMode.AND) == [
        (d, pytest.approx(s, rel=1e-9)) for s, d in ref
    ]


def test_parquet_rows_raises_on_missing_path(tmp_path):
    """A vanished sink delta file must fail at the footer-count gate with
    the real missing-file error, not surface later as a confusing
    'increment snapshot row-count mismatch' undercount."""
    with pytest.raises(FileNotFoundError, match="missing.parquet"):
        IndexStore.parquet_rows([str(tmp_path / "missing.parquet")])
