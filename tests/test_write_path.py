"""Write-path bookkeeping: lineage rows and the stats row are committed
driver-side (one parquet file each, renamed into place), so an index
whose bookkeeping an older Spark writer left must keep opening,
advancing and compacting; and each write-path call stays under a Spark
job ceiling."""

from __future__ import annotations

import itertools
import os
import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.build.builder import DOC_LEN_FIELDS, IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.sources.corpus import CORPUS_SCHEMA
from search_engine_spark.streaming import StreamingIndexer
from search_engine_spark.testing.synth import synth_corpus

CFG = EngineConfig(
    chunk_docs=32, chunks_per_batch=2, block_docs=8, n_term_buckets=8
)
# the lineage columns a Spark-written (pre-driver-side) row carries
LEGACY_LINEAGE = [
    "batch_id", "first_chunk", "last_chunk", "n_docs", "n_postings",
    "n_rows_out", "bytes_postings", "wall_sec", "input_fingerprint",
    "engine_version",
]
QUERIES = [("zqmerge zqshard", SearchMode.OR), ("zqmerge", SearchMode.AND)]


def _rows():
    """160 docs: a 96-doc base and a 64-doc wave whose key prefixes make
    arrival order == global (repo, path, commit) order, so streamed ids
    equal a bulk build's."""
    rows = synth_corpus(n_docs=160, seed=5)
    base = [dict(r, repo="a-" + r["repo"]) for r in rows[:96]]
    wave = [dict(r, repo="b-" + r["repo"]) for r in rows[96:]]
    return base, wave


def _stage(spark, indexer, src, rows):
    spark.createDataFrame(rows, CORPUS_SCHEMA).write.mode("append").parquet(
        src
    )
    indexer.start(
        spark.readStream.schema(CORPUS_SCHEMA).parquet(src),
        available_now=True,
    )


def _ranked(spark, index_dir):
    eng = SearchEngine(spark, index_dir, CFG)
    return {
        q: [(r.doc_id, pytest.approx(r.score, rel=1e-12))
            for r in sorted(eng.search(q, m).collect(), key=lambda r: r.rank)]
        for q, m in QUERIES
    }


def _rewrite_bookkeeping_as_spark(spark, store):
    """Rewrites lineage and stats the way the Spark writer did before
    commits moved driver-side: one ``createDataFrame([row])`` append per
    lineage row (without the doc-length fields), one overwrite for
    stats."""
    rows = store.lineage_rows_meta(LEGACY_LINEAGE)
    stats = store.read_stats()
    shutil.rmtree(store.lineage_path)
    for row in rows:
        spark.createDataFrame([row]).coalesce(1).write.mode("append").parquet(
            store.lineage_path
        )
    spark.createDataFrame([stats]).coalesce(1).write.mode("overwrite").parquet(
        store.stats_path
    )
    return stats


@pytest.fixture(scope="module")
def legacy(spark, tmp_path_factory):
    """A bulk-built base whose bookkeeping is rewritten the Spark way,
    then advanced by one wave and compacted by the current code."""
    base_dir = tmp_path_factory.mktemp("legacy")
    index_dir = str(base_dir / "idx")
    base, wave = _rows()
    builder = IndexBuilder(spark, index_dir, CFG)
    builder.build_all(spark.createDataFrame(base, CORPUS_SCHEMA))
    stats = _rewrite_bookkeeping_as_spark(spark, builder.store)
    assert not any(
        n.endswith(".parquet") and not n.startswith("part-")
        for n in os.listdir(builder.store.lineage_path)
    )
    opened = SearchEngine(spark, index_dir, CFG)

    indexer = StreamingIndexer(spark, index_dir, str(base_dir / "stg"), CFG)
    _stage(spark, indexer, str(base_dir / "arrivals"), wave)
    advanced = indexer.advance()
    advanced_stats = builder.store.read_stats()
    advanced_ranked = _ranked(spark, index_dir)
    compacted = builder.compact()

    fresh_dir = str(base_dir / "fresh")
    fresh_stats = IndexBuilder(spark, fresh_dir, CFG).build_all(
        spark.createDataFrame(base + wave, CORPUS_SCHEMA)
    )
    return {
        "builder": builder, "index_dir": index_dir, "stats": stats,
        "opened": opened, "advanced": advanced,
        "advanced_stats": advanced_stats, "advanced_ranked": advanced_ranked,
        "compacted": compacted, "fresh_stats": fresh_stats,
        "fresh_ranked": _ranked(spark, fresh_dir),
    }


def test_legacy_bookkeeping_opens_advances_and_compacts(legacy, spark):
    assert legacy["opened"].stats == legacy["stats"]
    assert legacy["advanced"]["indexed"] == 64
    # the fold replaced the Spark-written stats file with one row file
    store = legacy["builder"].store
    visible = [n for n in os.listdir(store.stats_path) if n[0] not in "._"]
    assert visible == ["stats.parquet"]
    assert legacy["advanced_stats"] == legacy["fresh_stats"]
    assert legacy["advanced_ranked"] == legacy["fresh_ranked"]

    assert legacy["compacted"]["compacted"] is True
    assert store.committed_batches() == [legacy["compacted"]["batch_id"]]
    assert store.read_stats() == legacy["fresh_stats"]
    assert _ranked(spark, legacy["index_dir"]) == legacy["fresh_ranked"]


def test_lineage_reads_agree_across_writers(legacy):
    """Spark-written rows (no doc-length fields), a driver-written batch
    row and a driver-written compaction row carrying ``replaces`` read
    the same through Spark (mergeSchema) and through pyarrow."""
    store = legacy["builder"].store
    via_spark = store.read_lineage()
    columns = via_spark.columns
    assert set(columns) == {*LEGACY_LINEAGE, *DOC_LEN_FIELDS, "replaces"}
    spark_rows = sorted(
        (r.asDict() for r in via_spark.collect()), key=lambda r: r["batch_id"]
    )
    meta_rows = sorted(
        store.lineage_rows_meta(columns), key=lambda r: r["batch_id"]
    )
    assert spark_rows == meta_rows
    compaction = meta_rows[-1]
    assert compaction["replaces"] == [0, 1, 2]
    assert compaction["n_docs"] == 160
    # the wave's driver-written row carries its doc-length sums; the
    # Spark-written base rows don't
    assert all(meta_rows[2][f] is not None for f in DOC_LEN_FIELDS)
    assert all(meta_rows[0][f] is None for f in DOC_LEN_FIELDS)


_GROUPS = itertools.count()


def _jobs_for(sc, fn):
    """(result, Spark jobs ``fn`` ran) — jobs submitted from the calling
    thread carry a job group; worker threads the call starts carry none,
    so the ungrouped jobs submitted meanwhile count too."""
    group = f"write-path-{next(_GROUPS)}"

    def ungrouped():
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = max(ungrouped(), default=-1)
    sc.setJobGroup(group, "write path job-count assertion")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    return out, n + sum(j > before for j in ungrouped())


def test_write_path_job_counts(spark, tmp_path):
    """Upper bounds on Spark jobs per write-path call (AQE splits an
    action into a varying handful of jobs, so these are ceilings)."""
    sc = spark.sparkContext
    base, wave = _rows()
    index_dir = str(tmp_path / "idx")
    builder = IndexBuilder(spark, index_dir, CFG)
    builder.build_all(spark.createDataFrame(base, CORPUS_SCHEMA))

    _stats, n_finalize = _jobs_for(sc, builder.finalize)
    assert n_finalize <= 5

    # a chunk-aligned upsert wave, the first advance (a rescan): 64 new
    # docs plus new versions of 32 base docs
    recrawl = [dict(r, commit="c-recrawl") for r in base[:32]]
    indexer = StreamingIndexer(spark, index_dir, str(tmp_path / "stg"), CFG)
    _stage(spark, indexer, str(tmp_path / "arrivals"), wave + recrawl)
    res, n_advance = _jobs_for(sc, lambda: indexer.advance(upsert=True))
    assert res["scan"]["mode"] == "rescan"
    assert res["indexed"] == 96 and res["superseded"] == 32
    assert n_advance <= 30

    # delete_docs runs its id plan once: no more jobs than writing it
    ids = builder.store.read_docs().where(F.col("doc_id") >= 150).select(
        "doc_id"
    )
    _, n_write = _jobs_for(
        sc,
        lambda: ids.distinct().coalesce(1).write.parquet(
            str(tmp_path / "ids_only")
        ),
    )
    deleted, n_delete = _jobs_for(sc, lambda: builder.delete_docs(ids))
    assert deleted == {"deleted": 42}
    assert n_delete <= n_write
    # nothing to delete leaves no tombstone file
    tombs = sorted(os.listdir(builder.store.tombstones_path))
    assert builder.delete_docs(ids.where(F.col("doc_id") < 0)) == {
        "deleted": 0
    }
    assert sorted(os.listdir(builder.store.tombstones_path)) == tombs


def test_concurrent_lineage_appends_all_commit(spark, tmp_path):
    """Concurrent batches commit without a lock: every row lands in its
    own file, so none is lost or torn however the threads interleave."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from search_engine_spark.sources.index_store import IndexStore

    store = IndexStore(spark, str(tmp_path / "idx"), CFG)
    n = 64
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futs = [
                pool.submit(
                    store.append_lineage,
                    {"batch_id": b, "n_docs": b, "wall_sec": 0.5},
                )
                for b in range(n)
            ]
            for f in futs:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    rows = store.lineage_rows_meta(["batch_id", "n_docs"])
    assert sorted((r["batch_id"], r["n_docs"]) for r in rows) == [
        (b, b) for b in range(n)
    ]
    assert store.committed_batches() == list(range(n))
