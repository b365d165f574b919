"""Index build: invariants vs the oracle's in-memory index.

Invariants (SURVEY.md §5.3): dense doc ids in (repo,path,commit) order;
per-row sha256 equality vs source; postings doc-sorted; sum(tf) == doc_len
per doc; df == len(doc_ids); codec round-trips through the written index.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.functions.codec import (
    delta_decode_docs,
    decode_positions,
    vb_decode,
)
from search_engine_spark.oracle.refsem import RefSemIndex
from search_engine_spark.testing.synth import corpus_to_tokens, synth_corpus

CFG = EngineConfig(chunk_docs=64, chunks_per_batch=2, block_docs=8, n_term_buckets=8)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from search_engine_spark.testing.synth import synth_corpus

    rows = synth_corpus(n_docs=150, seed=42)
    corpus = spark.createDataFrame(rows)
    index_dir = str(tmp_path_factory.mktemp("index"))
    builder = IndexBuilder(spark, index_dir, CFG)
    stats = builder.build_all(corpus)
    return rows, builder, stats


def test_docs_table_invariants(built, spark):
    rows, builder, stats = built
    docs = builder.store.read_docs().orderBy("doc_id").collect()
    assert len(docs) == len(rows)
    # dense ids in (repo, path, commit) order
    expected = sorted(rows, key=lambda r: (r["repo"], r["path"], r["commit"]))
    for i, (d, e) in enumerate(zip(docs, expected)):
        assert d.doc_id == i
        assert (d.repo, d.path, d.commit) == (e["repo"], e["path"], e["commit"])
        assert d.sha256 == hashlib.sha256(e["content"].encode()).hexdigest()
    assert stats["num_docs"] == len(rows)


def test_postings_match_oracle_index(built):
    rows, builder, stats = built
    oracle = RefSemIndex(corpus_to_tokens(rows))
    postings = builder.store.read_postings().collect()

    by_term: dict[str, list] = {}
    for r in postings:
        if r.term == "":  # reserved doclens pseudo-term
            continue
        by_term.setdefault(r.term, []).append(r)

    assert set(by_term) == set(oracle.index)
    for term, chunks in by_term.items():
        chunks.sort(key=lambda r: r.chunk_id)
        docs = np.concatenate([delta_decode_docs(bytes(r.doc_ids)) for r in chunks])
        tfb = np.concatenate(
            [vb_decode(bytes(r.tfs_body)).astype(np.int64) for r in chunks]
        )
        tft = np.concatenate(
            [vb_decode(bytes(r.tfs_title)).astype(np.int64) for r in chunks]
        )
        p = oracle.index[term]
        assert docs.tolist() == p.doc_ids, term
        assert tfb.tolist() == p.tfs_body, term
        assert tft.tolist() == p.tfs_title, term
        assert sum(r.df for r in chunks) == len(p.doc_ids)
        # positions round-trip
        pos_b = np.concatenate(
            [
                decode_positions(bytes(r.pos_body), vb_decode(bytes(r.tfs_body)).astype(np.int64))
                for r in chunks
            ]
        )
        expected_pos = [x for sub in p.pos_body for x in sub]
        assert pos_b.tolist() == expected_pos, term
        # strictly ascending doc ids
        assert np.all(np.diff(docs) > 0)


def test_sum_tf_equals_doc_len(built):
    rows, builder, _ = built
    oracle = RefSemIndex(corpus_to_tokens(rows))
    postings = [r for r in builder.store.read_postings().collect() if r.term != ""]
    body_sum = np.zeros(len(rows), dtype=np.int64)
    for r in postings:
        docs = delta_decode_docs(bytes(r.doc_ids))
        body_sum[docs] += vb_decode(bytes(r.tfs_body)).astype(np.int64)
    np.testing.assert_array_equal(body_sum, np.array(oracle.doc_lengths))


def test_doclens_and_stats(built):
    rows, builder, stats = built
    oracle = RefSemIndex(corpus_to_tokens(rows))
    assert stats["avg_doc_len"] == pytest.approx(oracle.avg_doc_length)
    assert stats["avg_title_len"] == pytest.approx(oracle.avg_title_length)
    doclens = builder.store.read_doclens().collect()
    seen = {}
    for r in doclens:
        ids = delta_decode_docs(bytes(r.doc_ids))
        dls = vb_decode(bytes(r.doc_lens)).astype(np.int64)
        tls = vb_decode(bytes(r.title_lens)).astype(np.int64)
        assert r.n_docs == ids.size
        for d, dl, tl in zip(ids.tolist(), dls.tolist(), tls.tolist()):
            seen[d] = (dl, tl)
    assert len(seen) == len(rows)
    for d, (dl, tl) in seen.items():
        assert dl == oracle.doc_lengths[d]
        assert tl == oracle.title_lengths[d]


def test_term_stats(built):
    rows, builder, _ = built
    oracle = RefSemIndex(corpus_to_tokens(rows))
    ts = {r.term: r.df for r in builder.store.read_term_stats().collect()}
    assert ts == {t: len(p.doc_ids) for t, p in oracle.index.items()}


def test_skewed_term_rows_bounded_by_chunk(spark, tmp_path):
    """A stop-word appearing in EVERY doc must be split into doc-range
    chunk rows of bounded size — the explicit salt for high-DF terms
    (north_rule).  No single (term, chunk) row exceeds chunk_docs."""
    from search_engine_spark.build.builder import IndexBuilder

    cfg = EngineConfig(chunk_docs=16, chunks_per_batch=2, block_docs=4,
                       n_term_buckets=4)
    rows = [
        {
            "repo": "r",
            "path": f"p{i:04d}",
            "commit": "c",
            "lang": "x",
            "content": f"stopword unique_{i}",
        }
        for i in range(100)
    ]
    d = str(tmp_path / "skew")
    IndexBuilder(spark, d, cfg).build_all(spark.createDataFrame(rows))
    stop_rows = (
        IndexBuilder(spark, d, cfg).store.read_postings()
        .where(F.col("term") == "stopword")
        .collect()
    )
    assert len(stop_rows) == (100 + 15) // 16  # one row per chunk
    assert all(r.df <= 16 for r in stop_rows)
    assert sum(r.df for r in stop_rows) == 100
    # rows are doc-range disjoint and ordered by chunk
    spans = sorted(
        (r.chunk_id, delta_decode_docs(bytes(r.doc_ids))) for r in stop_rows
    )
    last = -1
    for _c, ids in spans:
        assert ids[0] > last
        last = int(ids[-1])


def test_postings_scan_pushdown(spark, tmp_path):
    """Term + bucket filters reach the parquet scan (PushedFilters /
    partition pruning), and unused columns are pruned from ReadSchema."""
    from search_engine_spark.build.builder import IndexBuilder
    from search_engine_spark.sources.index_store import term_bucket

    cfg = EngineConfig(chunk_docs=64, chunks_per_batch=2, block_docs=8,
                       n_term_buckets=8)
    rows = synth_corpus(n_docs=80, seed=9)
    d = str(tmp_path / "pushdown")
    b = IndexBuilder(spark, d, cfg)
    b.build_all(spark.createDataFrame(rows))
    bucket = term_bucket("zqmerge", cfg.n_term_buckets)
    scan = (
        b.store.read_postings()
        .where((F.col("bucket") == bucket) & (F.col("term") == "zqmerge"))
        .select("term", "chunk_id", "df", "doc_ids")
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "zqmerge" in plan
    # partition pruning on bucket
    assert "bucket" in plan
    # column pruning: position columns not read
    assert "pos_body" not in plan.split("ReadSchema")[-1]


def test_term_bloom_filters_are_right_sized(built):
    """Every postings and term_stats file carries a bloom filter on
    ``term`` sized to the file's distinct terms.  A filter written at the
    parquet default maximum is 1 MB per file, whatever the term count."""
    import glob
    import os

    _rows, builder, _stats = built
    store = builder.store
    files = [
        f
        for root in (str(store.dir / "postings"), store.term_stats_path)
        for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    ]
    assert any("term_stats" in f for f in files)
    assert any("postings" in f for f in files)
    too_big = {f: os.path.getsize(f) for f in files if os.path.getsize(f) >= 64 << 10}
    assert not too_big


def test_verify_corpus_sha_invariant(built, spark):
    rows, builder, _ = built
    corpus = spark.createDataFrame(rows)
    res = builder.verify_corpus(corpus)
    assert res == {"rows": len(rows), "missing": 0, "sha_mismatch": 0}
    # tampered corpus is detected
    from pyspark.sql import functions as F

    tampered = corpus.withColumn(
        "content",
        F.when(F.col("path") == rows[0]["path"],
               F.concat(F.col("content"), F.lit("x"))).otherwise(
            F.col("content")
        ),
    )
    res2 = builder.verify_corpus(tampered)
    assert res2["sha_mismatch"] >= 1


def test_csv_corpus_source_round_trips(spark, tmp_path):
    """D1: a TSV corpus loads through load_corpus_csv into the exact
    input shape and builds an index identical to the in-memory corpus."""
    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.sources.corpus import load_corpus_csv
    from search_engine_spark.plans.parser import SearchMode

    rows = synth_corpus(n_docs=60, seed=21)
    src = spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content"
    )
    csv_dir = str(tmp_path / "corpus_tsv")
    (
        src.write.option("sep", "\t").option("header", "false")
        .option("escape", '"').mode("overwrite").csv(csv_dir)
    )
    loaded = load_corpus_csv(spark, csv_dir)
    assert loaded.schema.simpleString() == src.schema.simpleString()
    assert loaded.count() == 60
    # identical content (csv parser round-trips quoting/newlines)
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in loaded.collect()}
    assert a == b
    cfg = EngineConfig(chunk_docs=64, chunks_per_batch=2, block_docs=8,
                       n_term_buckets=8)
    d = str(tmp_path / "csv_idx")
    IndexBuilder(spark, d, cfg).build_all(loaded)
    eng = SearchEngine(spark, d, cfg)
    oracle = RefSemIndex(corpus_to_tokens(rows))
    _n, ref = oracle.search_text("zqmerge", SearchMode.AND)
    got = eng.search("zqmerge", SearchMode.AND).collect()
    assert [r.doc_id for r in sorted(got, key=lambda r: r.rank)] == [
        d_ for _s, d_ in ref
    ]


def test_jsonl_corpus_source_round_trips(spark, tmp_path):
    """JSONL corpus loads into the canonical shape and builds an index
    identical to the in-memory corpus (pinned schema, no inference)."""
    import json as _json

    from search_engine_spark.sources.corpus import load_corpus_jsonl

    rows = synth_corpus(n_docs=40, seed=23)
    jdir = tmp_path / "jsonl"
    jdir.mkdir()
    with open(jdir / "part-0.jsonl", "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
    loaded = load_corpus_jsonl(spark, str(jdir))
    assert loaded.count() == 40
    src = spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content"
    )
    assert {tuple(r) for r in loaded.collect()} == {
        tuple(r) for r in src.collect()
    }


def test_load_corpus_accepts_catalog_table_identifier(spark):
    """The north rule reads an Iceberg corpus TABLE: a dotted/bare
    identifier routes through spark.read.table (resolved by whatever
    catalog is configured — a temp view here), a path through parquet."""
    from search_engine_spark.sources.corpus import load_corpus
    from search_engine_spark.testing.synth import synth_corpus

    rows = synth_corpus(n_docs=10, seed=3)
    spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content"
    ).createOrReplaceTempView("corpus_tbl")
    got = load_corpus(spark, "corpus_tbl")
    assert got.columns == ["repo", "path", "commit", "lang", "content"]
    assert got.count() == 10


def test_load_corpus_bare_relative_filename_reads_parquet(spark):
    """A bare relative filename that exists on disk is a PATH, not a
    catalog identifier — it must route to the parquet reader (previously
    it was misrouted to spark.read.table and failed)."""
    import os
    import shutil

    from search_engine_spark.sources.corpus import load_corpus
    from search_engine_spark.testing.synth import synth_corpus

    name = "tmp_bare_corpus_test.parquet"
    # the JVM resolves relative paths against the driver process cwd
    rows = synth_corpus(n_docs=7, seed=5)
    spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content"
    ).write.mode("overwrite").parquet(name)
    try:
        got = load_corpus(spark, name)
        assert got.count() == 7
    finally:
        shutil.rmtree(os.path.abspath(name), ignore_errors=True)


def test_load_corpus_table_prefix_forces_catalog(spark):
    """table: prefix resolves through the catalog even if a same-named
    local path exists."""
    from search_engine_spark.sources.corpus import load_corpus
    from search_engine_spark.testing.synth import synth_corpus

    rows = synth_corpus(n_docs=5, seed=6)
    spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content"
    ).createOrReplaceTempView("corpus_tbl_prefixed")
    got = load_corpus(spark, "table:corpus_tbl_prefixed")
    assert got.count() == 5
    assert got.columns == ["repo", "path", "commit", "lang", "content"]


def test_concurrent_batches_equal_serial(spark, tmp_path):
    """build_postings(concurrency=3) pipelines independent lineage
    batches as concurrent Spark jobs; the resulting index must be
    IDENTICAL to a serial build — same postings rows, same stats, same
    committed lineage coverage — because each batch writes only its own
    batch dirs and commits its own lineage row file."""
    rows = synth_corpus(n_docs=320, seed=11)
    corpus = spark.createDataFrame(rows)
    cfg = EngineConfig(
        chunk_docs=32, chunks_per_batch=2, block_docs=8, n_term_buckets=8
    )
    b_ser = IndexBuilder(spark, str(tmp_path / "ser"), cfg)
    s_ser = b_ser.build_all(corpus)
    b_con = IndexBuilder(spark, str(tmp_path / "con"), cfg)
    s_con = b_con.build_all(corpus, concurrency=3)

    assert sorted(b_con.store.committed_batches()) == sorted(
        b_ser.store.committed_batches()
    )
    assert {k: s_con[k] for k in s_ser} == s_ser

    def fingerprint(store):
        return sorted(
            (
                r.bucket, r.term, r.chunk_id,
                bytes(r.doc_ids), bytes(r.tfs_body), bytes(r.tfs_title),
            )
            for r in store.read_postings().collect()
        )

    assert fingerprint(b_con.store) == fingerprint(b_ser.store)


def test_assign_doc_ids_trusts_precomputed_sha(spark):
    """The slim bulk path (sha256 computed before the id shuffle, content
    projected away) must be bit-identical to the full-row path — per-row
    hashes are shuffle-invariant, so only the shuffled bytes differ."""
    from search_engine_spark.sources.corpus import assign_doc_ids

    rows = synth_corpus(n_docs=120, seed=7)
    full = spark.createDataFrame(rows)
    out_full = assign_doc_ids(full).select(
        "doc_id", "repo", "path", "commit", "sha256"
    )
    slim = full.select(
        "repo", "path", "commit", "lang",
        F.sha2(F.col("content"), 256).alias("sha256"),
    )
    out_slim = assign_doc_ids(slim, trust_sha256=True).select(
        "doc_id", "repo", "path", "commit", "sha256"
    )
    assert "content" not in out_slim.columns  # content never re-enters
    a = sorted(tuple(r) for r in out_full.collect())
    b = sorted(tuple(r) for r in out_slim.collect())
    assert a == b


def test_assign_doc_ids_recomputes_untrusted_sha(spark):
    """A corpus carrying its own ``sha256`` column is not trusted by
    default: the output holds sha2(content)."""
    from search_engine_spark.sources.corpus import assign_doc_ids

    rows = synth_corpus(n_docs=20, seed=3)
    bogus = spark.createDataFrame(rows).withColumn("sha256", F.lit("bogus"))
    out = assign_doc_ids(bogus).select("path", "sha256").collect()
    want = {
        r["path"]: hashlib.sha256(r["content"].encode()).hexdigest()
        for r in rows
    }
    assert len(out) == len(rows)
    assert {r.path: r.sha256 for r in out} == want


def test_build_rejects_duplicate_corpus_keys(spark, tmp_path):
    """Two rows sharing (repo, path, commit) would fan out k x k in the
    batch join (4 docs rows, num_docs 6); the build refuses them with the
    duplicate count, and leaves no docs table behind as a checkpoint."""
    import os

    from search_engine_spark.build.builder import DuplicateKeyError

    rows = [
        ("r", "a.py", "c1", "python", "alpha beta"),
        ("r", "a.py", "c1", "python", "gamma delta"),
        ("r", "b.py", "c1", "python", "beta gamma"),
        ("s", "a.py", "c2", "python", "alpha delta"),
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
        "content string"
    )
    builder = IndexBuilder(spark, str(tmp_path / "idx"), CFG)
    with pytest.raises(DuplicateKeyError, match=r"\b1 row"):
        builder.build_all(corpus)
    assert not os.path.isdir(builder.store.docs_path)


def test_build_hashes_configured_body_col(spark, tmp_path):
    """The docs table's sha256 is the hash of ``body_col``, so an index
    built from a non-default body column passes verify_corpus."""
    rows = synth_corpus(n_docs=40, seed=5)
    corpus = spark.createDataFrame(rows).withColumnRenamed("content", "text")
    builder = IndexBuilder(spark, str(tmp_path / "idx"), CFG, body_col="text")
    stats = builder.build_all(corpus)
    assert stats["num_docs"] == len(rows)
    assert builder.verify_corpus(corpus) == {
        "rows": len(rows), "missing": 0, "sha_mismatch": 0,
    }
