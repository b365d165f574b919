"""Batched, checkpoint-resumable index build.

Pipeline per batch of doc-id chunks (SURVEY.md §3.4):

``docs slice → mapInPandas(tokenize + local partial postings)
→ groupBy(term, chunk_id).applyInPandas(merge + delta/varbyte encode +
block max-score metadata) → write postings/batch=K partitioned by term
bucket → write doclens/batch=K → commit lineage row``

* The ``(term, chunk_id)`` grouping key is the explicit doc-range salt:
  a high-DF term is merged by many independent tasks whose outputs are
  doc-range-disjoint, so reading them back in chunk order reconstructs the
  docID-sorted posting list (distributed mirror of the reference's
  disjoint-block concat, ``ingestion.py:473-485``).
* Batch boundaries align with chunk boundaries, so a batch never rewrites
  another batch's (term, chunk) rows — resume is append-only.  A batch is
  visible only after its lineage row commits (Iceberg-snapshot-style
  gating, see ``sources/index_store.py``).  The commit is a driver-side
  file rename, not a Spark job: the lineage row is one parquet file
  written under a hidden name and renamed into ``lineage/``, so
  concurrent batches need no lock (their row files have distinct names).
* ``finalize()`` (re)computes the collection stats + term_stats tables
  from committed data; it is idempotent and safe to re-run after resume.
  Its lineage sums and the stats row are driver-side reads and writes.

Bookkeeping never pays a Spark job: per-batch metrics (docs, postings,
bytes, doc-length sums and maxes) ride the postings write as observed
aggregates and land in the lineage row, which a streaming increment's
``finalize_incremental`` folds into the stats without a scan.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.build.kernels import (
    make_merge_stream_fn,
    make_partials_mapper,
)
from search_engine_spark.sources.corpus import assign_doc_ids
from search_engine_spark.sources.index_store import (
    IndexStore,
    PARTIALS_SCHEMA,
    POSTINGS_SCHEMA,
    TERM_BLOOM_OPTIONS,
)

# the collection-stats ingredients a batch's lineage row carries
DOC_LEN_FIELDS = ("sum_doc_len", "sum_title_len", "max_doc_len", "max_title_len")


def _postings_metrics() -> list:
    """Lineage metrics of a postings write, observed on it (the
    reserved-term "" rows' df is the per-chunk doc count)."""
    is_post = F.col("term") != ""
    return [
        F.count(F.when(is_post, 1)).alias("rows"),
        F.sum(F.when(is_post, F.col("df"))).alias("postings"),
        F.sum(
            F.when(
                is_post,
                F.length("doc_ids")
                + F.length("tfs_body")
                + F.length("tfs_title")
                + F.length("pos_body")
                + F.length("pos_title"),
            )
        ).alias("bytes"),
        F.sum(F.when(~is_post, F.col("df"))).alias("n_docs"),
    ]


class DuplicateKeyError(ValueError):
    """The bulk-build corpus repeats a (repo, path, commit) key."""


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: EngineConfig | None = None,
        title_col: str = "path",
        body_col: str = "content",
    ):
        self.spark = spark
        self.config = config or EngineConfig()
        self.store = IndexStore(spark, index_dir, self.config)
        self.title_col = title_col
        self.body_col = body_col

    # ----- phase A: docs table (doc ids + sha256 + lengths) -----

    def build_docs(self, corpus: DataFrame, overwrite: bool = False) -> None:
        """Dense doc_id assignment + sha256 + tokenized lengths -> docs/.
        Raises ``DuplicateKeyError`` if a (repo, path, commit) key repeats."""
        self.store.write_meta()  # pin layout params for query-side readers
        if not overwrite and os.path.isdir(self.store.docs_path):
            return  # phase A is itself a checkpoint
        n_in = corpus.count()
        # n_in sizes the range partitions so each per-partition id sort
        # stays in-memory regardless of corpus size (see assign_doc_ids).
        # sha256 is a per-row map — computing it BEFORE the id shuffle and
        # dropping content means the range shuffle + persist move ~150-byte
        # key rows, not whole documents (the docs table never stores
        # content; the batch phase re-reads it from the corpus source).
        slim = corpus.select(
            "repo", "path", "commit", "lang",
            F.sha2(F.col(self.body_col), 256).alias("sha256"),
        )
        keys = Observation("docs_keys")
        with_ids = assign_doc_ids(
            slim, n_rows=n_in, trust_sha256=True, observation=keys
        )
        # doc/title token lengths are NOT computed here — the batch phase
        # tokenizes exactly once and emits doclens through the posting
        # shuffle (reserved term "", build/kernels.py)
        (
            with_ids.select(
                "doc_id", "repo", "path", "commit", "lang", "sha256"
            )
            .write.mode("overwrite" if overwrite else "error")
            .parquet(self.store.docs_path)
        )
        # the batch join on (repo, path, commit) would fan a duplicated
        # key out k x k and inflate every count downstream; the written
        # table must not survive as a phase-A checkpoint
        dups = keys.get["dup_keys"]
        if dups:
            shutil.rmtree(self.store.docs_path)
            raise DuplicateKeyError(
                f"corpus has {dups} row(s) whose (repo, path, commit) key "
                f"repeats an earlier row's; keys must be unique"
            )
        # id-assignment integrity: duplicated/dropped ids would silently
        # corrupt every downstream posting (see assign_doc_ids docstring);
        # the footers of the unfiltered table hold the exact row count
        n_out = self.store.parquet_rows(self.store.docs_path)
        if n_out != n_in:
            raise RuntimeError(
                f"doc-id assignment corrupted: {n_in} corpus rows -> "
                f"{n_out} docs rows"
            )

    # ----- phase B: batched postings -----

    def _batch_ranges(self, num_docs: int) -> list[tuple[int, int, int]]:
        """[(batch_id, first_chunk, last_chunk_exclusive)] covering all docs."""
        cfg = self.config
        docs_per_batch = cfg.chunk_docs * cfg.chunks_per_batch
        n_batches = (num_docs + docs_per_batch - 1) // docs_per_batch
        return [
            (b, b * cfg.chunks_per_batch, (b + 1) * cfg.chunks_per_batch)
            for b in range(n_batches)
        ]

    def build_postings(
        self,
        corpus: DataFrame,
        resume: bool = True,
        max_batches: int | None = None,
        concurrency: int | None = None,
    ) -> list[dict]:
        """Runs all (remaining) batches; returns per-batch metric dicts.

        Per-batch input slicing is by *sort-key range*, not a full-corpus
        join: the docs table provides each batch's (repo, path, commit)
        bounds (one tiny driver-side agg), the corpus scan is filtered to
        that range (the ``repo`` bounds push down to parquet/Iceberg
        min-max file pruning on a sorted layout), and only the batch slice
        joins against the docs slice to pick up doc ids.  Cost per batch is
        O(batch), not O(corpus) — at 10^12 files the difference is the
        build being feasible at all.
        """
        cfg = self.config
        docs = self.store.read_docs().select("doc_id", "repo", "path", "commit")
        docs_per_batch = cfg.chunk_docs * cfg.chunks_per_batch
        bounds = {
            int(r.b): (r.lo, r.hi, int(r.n))
            for r in docs.groupBy(
                (F.col("doc_id") / docs_per_batch).cast("long").alias("b")
            )
            .agg(
                F.min(F.struct("repo", "path", "commit")).alias("lo"),
                F.max(F.struct("repo", "path", "commit")).alias("hi"),
                F.count("*").alias("n"),
            )
            .collect()
        }
        num_docs = sum(n for _, _, n in bounds.values())
        done = set(self.store.committed_batches()) if resume else set()
        todo = [
            (batch_id, first_chunk, last_chunk)
            for batch_id, first_chunk, last_chunk in self._batch_ranges(
                num_docs
            )
            if batch_id not in done
        ]
        if max_batches is not None:
            todo = todo[:max_batches]
        conc = max(1, int(concurrency or cfg.build_concurrency))
        if conc == 1 or len(todo) <= 1:
            return [
                self._run_batch(corpus, docs, bounds[b], b, fc, lc)
                for b, fc, lc in todo
            ]
        # Pipelined batches: each batch writes only its own
        # postings/batch=K and doclens/batch=K dirs, so independent
        # batches can run as concurrent Spark jobs and fill scheduler
        # slots a single batch's shuffle leaves idle (measured at 5.12M
        # docs: 5 serial default-size batches reached 22.8k docs/s vs
        # 63.9k for one giant batch; concurrency recovers the gap WITHOUT
        # giving up per-batch commit/resume granularity).  Each batch
        # commits its own lineage row file, so commits never collide.
        # Failure semantics are unchanged: an uncommitted batch is simply
        # re-run on resume, whatever other batches committed around it.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(conc) as pool:
            futs = [
                pool.submit(
                    self._run_batch, corpus, docs, bounds[b], b, fc, lc
                )
                for b, fc, lc in todo
            ]
            return [f.result() for f in futs]

    def _run_batch(
        self,
        corpus: DataFrame,
        docs: DataFrame,
        key_bounds: tuple,
        batch_id: int,
        first_chunk: int,
        last_chunk: int,
    ) -> dict:
        cfg = self.config
        t0 = time.time()
        lo = first_chunk * cfg.chunk_docs
        hi = last_chunk * cfg.chunk_docs
        klo, khi, _n = key_bounds
        # pushable prefix bound on repo, then the exact struct-tuple bound
        corpus_slice = corpus.where(
            (F.col("repo") >= klo.repo) & (F.col("repo") <= khi.repo)
        ).where(
            (F.struct("repo", "path", "commit") >= F.struct(F.lit(klo.repo), F.lit(klo.path), F.lit(klo.commit)))
            & (F.struct("repo", "path", "commit") <= F.struct(F.lit(khi.repo), F.lit(khi.path), F.lit(khi.commit)))
        )
        docs_slice = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        # The docs side is small enough to broadcast, so the join output
        # inherits the corpus slice's partitioning — if the input arrives
        # in few partitions (single file, coalesced upstream), the whole
        # tokenize stage would run on those few Python workers.  Spread the
        # slice to full parallelism first; the extra round-robin shuffle of
        # one batch's raw text is noise next to serial tokenization.
        n_parts = self.spark.sparkContext.defaultParallelism
        if corpus_slice.rdd.getNumPartitions() < n_parts:
            corpus_slice = corpus_slice.repartition(n_parts)
        batch_docs = corpus_slice.join(
            docs_slice, ["repo", "path", "commit"]
        ).select(
            "doc_id",
            F.col(self.title_col).alias("title"),
            F.col(self.body_col).alias("body"),
        )

        partials = batch_docs.mapInPandas(
            make_partials_mapper(cfg.tokenizer, cfg.chunk_docs), PARTIALS_SCHEMA
        )
        # doc-length sums and maxes for the stats fold: the reserved-term
        # "" partial rows carry one length per doc (each doc in exactly one
        # of them), still as arrays before the merge encodes them
        is_len = F.col("term") == ""
        len_obs = Observation(f"batch_{batch_id}_doc_lens")

        def len_sum(col: str):
            return F.sum(F.when(is_len, F.aggregate(
                col, F.lit(0).cast("long"), lambda acc, x: acc + x
            )))

        partials = partials.observe(
            len_obs,
            len_sum("doc_lens").alias("sum_doc_len"),
            len_sum("title_lens").alias("sum_title_len"),
            F.max(F.when(is_len, F.array_max("doc_lens"))).alias("max_doc_len"),
            F.max(F.when(is_len, F.array_max("title_lens"))).alias(
                "max_title_len"
            ),
        )
        # merge = shuffle on (term, chunk_id) + in-partition sorted group
        # stream (see make_merge_stream_fn; the chunk key is the doc-range
        # salt bounding any one task's share of a skewed term)
        n_merge_parts = int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        postings = (
            partials.repartition(n_merge_parts, "term", "chunk_id")
            .sortWithinPartitions("term", "chunk_id")
            .mapInPandas(
                make_merge_stream_fn(cfg.block_docs, cfg.n_term_buckets),
                POSTINGS_SCHEMA,
            )
        )
        # batch metrics ride the write job as observed aggregates — a
        # separate metrics pass would re-read the whole batch output
        # (O(batch) scan per batch: the Amdahl term at streaming scale)
        obs = Observation(f"batch_{batch_id}_metrics")
        (
            postings.observe(obs, *_postings_metrics())
            .repartition("bucket")
            .sortWithinPartitions("term", "chunk_id")
            .write.mode("overwrite")
            .options(**TERM_BLOOM_OPTIONS)
            .partitionBy("bucket")
            .parquet(self.store.postings_batch_path(batch_id))
        )

        # doclens for this batch: copy the reserved-term "" rows (one
        # bucket, bloom-pruned) written by the posting merge into the
        # doclens layout
        self._doclens_of(self.store.read_postings([batch_id])).write.mode(
            "overwrite"
        ).parquet(self.store.doclens_batch_path(batch_id))

        # batch metrics came from the observations on the postings write
        # (the reserved "" group's df IS the per-chunk doc count) — no
        # rescan of the written output
        agg = obs.get
        lens = len_obs.get
        metric = {
            "batch_id": batch_id,
            "first_chunk": first_chunk,
            "last_chunk": last_chunk,
            "n_docs": int(agg["n_docs"] or 0),
            "n_postings": int(agg["postings"] or 0),
            "n_rows_out": int(agg["rows"]),
            "bytes_postings": int(agg["bytes"] or 0),
            "wall_sec": time.time() - t0,
            "input_fingerprint": f"doc_id:[{lo},{hi})",
            "engine_version": "0.1.0",
            **{f: int(lens[f] or 0) for f in DOC_LEN_FIELDS},
        }
        # lineage commit LAST — makes the batch visible
        self.store.append_lineage(metric)
        return metric

    @staticmethod
    def _doclens_of(postings: DataFrame) -> DataFrame:
        """The doclens layout of a postings frame's reserved-term rows."""
        return postings.where(F.col("term") == "").select(
            "chunk_id",
            F.col("df").cast("int").alias("n_docs"),
            "doc_ids",
            F.col("tfs_body").alias("doc_lens"),
            F.col("tfs_title").alias("title_lens"),
        )

    @staticmethod
    def _term_stats_of(postings: DataFrame) -> DataFrame:
        """(bucket, term) -> df sum and chunk count of a postings frame."""
        return (
            postings.where(F.col("term") != "")
            .groupBy("bucket", "term")
            .agg(
                F.sum("df").cast("long").alias("df"),
                F.count("*").alias("n_chunks"),
            )
        )

    def _write_term_stats(self, term_stats: DataFrame, path: str) -> None:
        (
            term_stats.repartition("bucket")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .options(**TERM_BLOOM_OPTIONS)
            .partitionBy("bucket")
            .parquet(path)
        )

    # ----- finalize: collection stats + term stats -----

    def finalize(self) -> dict:
        raw = (
            self.store.read_doc_lens()
            .agg(
                F.count("*").alias("num_docs"),
                F.sum("doc_len").alias("sum_doc_len"),
                F.sum("title_len").alias("sum_title_len"),
                F.max("doc_len").alias("max_doc_len"),
                F.max("title_len").alias("max_title_len"),
            )
            .head()
        )
        # averages as exact-int-sum / count (one float division) — the
        # reference computes cumulative int sums then divides
        # (ingestion.py:899-910), and rank-identity requires bit-equal
        # avg lengths in the BM25 denominator; Spark's float `avg` would
        # differ in the last ulp depending on partition summation order.
        stats_row = {
            "num_docs": int(raw.num_docs),
            "avg_doc_len": (raw.sum_doc_len or 0) / raw.num_docs if raw.num_docs else 0.0,
            "avg_title_len": (raw.sum_title_len or 0) / raw.num_docs if raw.num_docs else 0.0,
            "max_doc_len": int(raw.max_doc_len or 0),
            "max_title_len": int(raw.max_title_len or 0),
            # exact int sums persisted so finalize_incremental can fold
            # an increment in without re-reading every batch's doclens
            # (the averages above must stay bit-equal: int-sum / count)
            "sum_doc_len": int(raw.sum_doc_len or 0),
            "sum_title_len": int(raw.sum_title_len or 0),
        }
        # total postings from the lineage metrics (committed batches only
        # — replaced pre-compaction rows would double-count) — avoids a
        # second full postings scan
        lineage = self.store.committed_lineage(["n_postings", "n_docs"])
        stats = {
            **stats_row,
            "total_postings": sum(int(r["n_postings"] or 0) for r in lineage),
            # allocated-id coverage stamp: the committed-lineage n_docs sum
            # (== docs.count() across deletes AND purges — n_docs means ids
            # ALLOCATED) these stats reflect.  finalize_incremental
            # cross-checks it so a crash that committed a batch's lineage
            # but lost its stats fold can never silently compound — it
            # detects the stale base and falls back to this full pass.
            "ids_covered": sum(int(r["n_docs"] or 0) for r in lineage),
        }
        self.store.write_stats(stats)

        self._write_term_stats(
            self._term_stats_of(self.store.read_postings()),
            self.store.term_stats_path,
        )
        return stats

    def finalize_incremental(self, batch_id: int) -> dict:
        """Fold ONE new batch into stats + term_stats in O(increment +
        vocabulary) instead of :meth:`finalize`'s O(index) re-aggregation
        — the per-increment cost that matters for streaming ingest at
        10^12-file scale, where re-scanning every batch's doclens and the
        full postings table per advance() would dwarf the increment.

        * collection stats: the persisted exact int sums (``sum_doc_len``
          etc.) are advanced by the sums and maxes the batch's lineage row
          carries (observed on its postings write) — no Spark job;
          averages stay bit-equal to a full recompute (one int-sum / count
          division).
        * term_stats: the increment batch's (bucket, term) contributions
          are merged with the existing table by a union + groupBy-sum
          (vocabulary-sized shuffle, not postings-sized) written to a
          staging dir and swapped in.

        Crash safety: the ``_finalize_pending`` marker brackets the whole
        update — a crash mid-swap fails engine opens loudly and
        :meth:`repair_pending_finalize` rebuilds via the full
        :meth:`finalize`.  Falls back to the full path when the stats
        file predates the persisted sums or the batch's lineage row
        predates the doc-length fields, and — via the ``ids_covered``
        allocated-id stamp — when the stats base is STALE (a prior crash
        landed between a batch's lineage append and its stats fold, a
        window no marker covers), so a lost fold heals on the next
        advance instead of compounding silently."""
        if not os.path.isdir(self.store.stats_path):
            return self.finalize()
        old = self.store.read_stats()
        if old.get("sum_doc_len") is None:
            return self.finalize()  # pre-r4 stats file: one full pass
        committed_rows = self.store.committed_lineage(
            ["n_postings", "n_docs", *DOC_LEN_FIELDS]
        )
        inc = next(
            (r for r in committed_rows if r["batch_id"] == batch_id), None
        )
        if inc is None or any(inc[f] is None for f in DOC_LEN_FIELDS):
            return self.finalize()  # lineage row without doc-length sums

        # --- stale-base cross-check (closes the r4 ADVICE crash window):
        # a crash between _run_batch's lineage append (batch visible) and
        # this method's pending marker leaves stats that silently miss one
        # batch — the torn-increment gate (docs rows == lineage ids sum)
        # still passes, and folding later increments onto the stale base
        # would compound the error permanently.  The stats file therefore
        # carries ``ids_covered`` (the committed-lineage allocated-id sum
        # it reflects); if the base doesn't equal the current committed
        # sum MINUS this batch's ids, some prior fold was lost — rebuild
        # via the full finalize() (marker-bracketed so a crash inside the
        # rebuild is still detected by engine opens / repaired).
        total_postings = sum(
            int(r["n_postings"] or 0) for r in committed_rows
        )
        ids_total = sum(int(r["n_docs"] or 0) for r in committed_rows)
        if (
            old.get("ids_covered") is None  # pre-r5 stats file
            or int(old["ids_covered"]) != ids_total - int(inc["n_docs"])
        ):
            with open(self.store.pending_finalize_path, "w") as fh:
                json.dump(
                    {
                        "batch_id": batch_id,
                        "incremental": True,
                        "stale_base": True,
                    },
                    fh,
                )
            stats = self.finalize()
            os.remove(self.store.pending_finalize_path)
            return stats

        with open(self.store.pending_finalize_path, "w") as fh:
            json.dump({"batch_id": batch_id, "incremental": True}, fh)

        staging = self.store.term_stats_path + ".staging"
        retired = self.store.term_stats_path + ".retired"
        merged = (
            self.store.read_term_stats()
            .unionByName(self._term_stats_of(self.store.read_postings([batch_id])))
            .groupBy("bucket", "term")
            .agg(
                F.sum("df").cast("long").alias("df"),
                F.sum("n_chunks").alias("n_chunks"),
            )
        )
        shutil.rmtree(staging, ignore_errors=True)
        self._write_term_stats(merged, staging)

        num_docs = int(old["num_docs"]) + int(inc["n_docs"])
        sum_dl = int(old["sum_doc_len"]) + int(inc["sum_doc_len"])
        sum_tl = int(old["sum_title_len"]) + int(inc["sum_title_len"])
        stats = {
            "num_docs": num_docs,
            "avg_doc_len": sum_dl / num_docs if num_docs else 0.0,
            "avg_title_len": sum_tl / num_docs if num_docs else 0.0,
            "max_doc_len": max(int(old["max_doc_len"]), int(inc["max_doc_len"])),
            "max_title_len": max(
                int(old["max_title_len"]), int(inc["max_title_len"])
            ),
            "sum_doc_len": sum_dl,
            "sum_title_len": sum_tl,
            "total_postings": int(total_postings),
            "ids_covered": int(ids_total),
        }
        self.store.write_stats(stats)
        shutil.rmtree(retired, ignore_errors=True)
        os.rename(self.store.term_stats_path, retired)
        os.rename(staging, self.store.term_stats_path)
        shutil.rmtree(retired)
        os.remove(self.store.pending_finalize_path)
        return stats

    # ----- deletion: tombstones now, physical purge at compaction -----

    def delete_docs(self, doc_ids) -> dict:
        """Mark docs deleted by id (an iterable of ints or a DataFrame
        with a ``doc_id`` column).  Deletion is LOGICAL and immediate for
        readers opened afterwards: a tombstone row is appended and query
        kernels exclude the ids (scores keep the global collection stats
        — post-hoc-restriction semantics, same contract as ``doc_filter``).
        :meth:`compact` physically purges tombstoned entries and
        recomputes stats/term_stats (Lucene segment-merge / Iceberg
        delete-file semantics).  Doc ids are never reused: the docs table
        keeps the tombstoned rows so streaming appends keep assigning
        fresh dense ids.

        The id plan is evaluated once: one write into a hidden staging
        dir counts its rows as it goes, and renaming the single written
        file into ``tombstones/`` is the commit.  Nothing to delete
        leaves no file behind."""
        if isinstance(doc_ids, DataFrame):
            df = doc_ids.select(F.col("doc_id").cast("long"))
        else:
            ids = [(int(i),) for i in doc_ids]
            df = self.spark.createDataFrame(ids, "doc_id long")
        obs = Observation("tombstone_rows")
        staging = str(self.store.dir / f".tombstones-{uuid.uuid4().hex}")
        df.distinct().observe(obs, F.count("*").alias("n")).coalesce(
            1
        ).write.parquet(staging)
        n = int(obs.get["n"])
        if n:
            os.makedirs(self.store.tombstones_path, exist_ok=True)
            for name in os.listdir(staging):
                if name.endswith(".parquet"):
                    os.replace(
                        os.path.join(staging, name),
                        os.path.join(self.store.tombstones_path, name),
                    )
            # a Spark append would have done this: cached plans over the
            # tombstones (an open engine's per-chunk deleted-id side, which
            # compact()'s purge plan matches) must not keep the old listing
            self.spark.catalog.refreshByPath(self.store.tombstones_path)
        shutil.rmtree(staging)
        return {"deleted": n}

    def delete_where(self, predicate) -> dict:
        """Tombstone every doc whose docs-table metadata row (repo, path,
        commit, lang) satisfies ``predicate`` (a Column)."""
        return self.delete_docs(
            self.store.read_docs().where(predicate).select("doc_id")
        )

    def supersede_old_versions(
        self, keys: tuple = ("repo", "path"), within: DataFrame | None = None
    ) -> dict:
        """Tombstone every docs-table row that is not the NEWEST version
        of its logical document — the upsert primitive.  A document's
        identity is its ``keys`` tuple (default ``(repo, path)``); a
        re-ingested version arrives with a new ``commit`` and, because
        doc ids are dense arrival order, the newest version is the max
        doc_id of the group (two versions inside one increment resolve
        the same way).  ``within`` (a DataFrame carrying the key columns,
        e.g. one increment's docs) restricts the sweep to the touched
        keys — broadcast-joined, so an upsert-ingest pays O(increment),
        not O(corpus); without it the full table is reconciled (repair /
        bulk dedup of versions).  Already-tombstoned rows are skipped so
        repeated calls don't grow the tombstone log.  Idempotent; purge
        happens at :meth:`compact` like any deletion."""
        docs = self.store.read_docs().select("doc_id", *keys)
        if within is not None:
            docs = docs.join(
                F.broadcast(within.select(*keys).distinct()),
                list(keys),
                "left_semi",
            )
        from pyspark.sql import Window

        w = Window.partitionBy(*keys)
        old = (
            docs.withColumn("_mx", F.max("doc_id").over(w))
            .where(F.col("doc_id") < F.col("_mx"))
            .select("doc_id")
        )
        tomb = self.store.read_tombstones()
        if tomb is not None:
            old = old.join(tomb, "doc_id", "left_anti")
        return self.delete_docs(old)

    # ----- compaction: many small batches -> one (streaming aftermath) --

    def compact(self) -> dict:
        """Rewrite all committed batches into ONE batch — applying any
        pending tombstones physically — and commit it by appending a
        lineage row whose ``replaces`` column lists the old batch ids:
        the same atomic append-commit point ``_run_batch`` uses, so
        readers switch from the old batches to the compacted one in a
        single step (Iceberg snapshot-replace semantics).  The old dirs
        stay on disk, invisible, until :meth:`vacuum`.

        Why: incremental streaming ingestion leaves one batch dir per
        ``advance()``; every query scan then lists batches x buckets
        directories of small files.  At 10^4 increments the file listing
        dominates query planning — compaction restores the one-dir,
        bucket-partitioned, term-sorted layout (bloom + min/max intact)
        of a fresh batch build.  Without tombstones query results are
        identical (batches are chunk-range disjoint, so compaction moves
        rows, never merges them).  With tombstones the deleted docs are
        purged from postings and doclens and the collection/term stats
        are recomputed (:meth:`finalize`), so post-compaction scores
        equal a fresh build over the surviving corpus — while doc ids
        stay the original dense ids (never reused; the docs table keeps
        the tombstoned rows).  Purge cost is deletion-proportional: only
        chunks containing a deleted doc go through the decode/re-encode
        kernel, every other chunk's rows are moved JVM-side untouched.
        Single writer assumed (like all builder mutations)."""
        from search_engine_spark.build.kernels import make_purge_fn

        t0 = time.time()
        self.repair_pending_finalize()
        lineage = self.store.committed_lineage(
            ["first_chunk", "last_chunk", "n_docs", "n_postings",
             "n_rows_out", "bytes_postings"]
        )
        committed = sorted(r["batch_id"] for r in lineage)
        tomb = self.store.read_tombstones()
        n_deleted = tomb.count() if tomb is not None else 0
        if not n_deleted:
            tomb = None
        if len(committed) <= 1 and tomb is None:
            return {"compacted": False, "batches": committed}
        all_ids = [
            r["batch_id"]
            for r in self.store.lineage_rows_meta(["batch_id"])
        ]
        new_id = max(all_ids) + 1

        def total(field: str) -> int:
            return sum(int(r[field] or 0) for r in lineage)

        postings = self.store.read_postings(committed)
        if tomb is not None:
            by_chunk = (
                tomb.select(
                    F.floor(F.col("doc_id") / self.config.chunk_docs)
                    .cast("long").alias("chunk_id"),
                    "doc_id",
                )
                .groupBy("chunk_id")
                .agg(
                    F.sort_array(F.collect_list("doc_id")).alias("deleted_ids")
                )
                .localCheckpoint()  # tiny; referenced by 3 plans below
            )
            chunks = by_chunk.select("chunk_id")
            untouched = postings.join(chunks, "chunk_id", "left_anti")
            purged = (
                postings.join(chunks, "chunk_id", "left_semi")
                .groupby("chunk_id")
                .cogroup(by_chunk.groupby("chunk_id"))
                .applyInPandas(
                    make_purge_fn(
                        self.config.block_docs, self.config.n_term_buckets
                    ),
                    POSTINGS_SCHEMA,
                )
            )
            postings = untouched.unionByName(purged)
        # Output file sizing: hash-repartitioning on bucket alone writes
        # ONE file per bucket, and at B-posting scale a ~GB file per
        # bucket costs query-scan parallelism and row-group selectivity
        # (measured at 2.15B postings: headline p50 4.6 s on the
        # batch-granular layout vs 5.7 s on one-file-per-bucket).  Range
        # partitioning on (bucket, term, chunk_id) keeps every file
        # term-sorted inside its bucket dir (min/max + bloom pruning
        # intact) while splitting each bucket into ~128 MB files, sized
        # from the lineage byte sum the same way id assignment sizes its
        # sort partitions.
        n_out = max(
            self.spark.sparkContext.defaultParallelism,
            -(-total("bytes_postings") // (128 << 20)),
        )
        # purged sums differ from the replaced rows' — count them on the
        # write (the same observed aggregates _run_batch takes), above the
        # range exchange: its boundary-sampling job runs the plan below it
        # once more and would count every row twice
        written = Observation(f"compact_{new_id}_metrics")
        (
            postings.repartitionByRange(n_out, "bucket", "term", "chunk_id")
            .observe(written, *_postings_metrics())
            .sortWithinPartitions("term", "chunk_id")
            .write.mode("overwrite")
            .options(**TERM_BLOOM_OPTIONS)
            .partitionBy("bucket")
            .parquet(self.store.postings_batch_path(new_id))
        )
        if tomb is None:
            # range-partitioned by chunk so a doclens scan stays
            # splittable at any doc count (never coalesce(1): doclens is
            # O(num_docs) bytes overall)
            doclens = self.store.read_doclens(committed)
        else:
            # doclens must drop the purged docs too — re-derive from the
            # purged postings' reserved-term "" rows (same extraction as
            # ``_run_batch``), guaranteeing the two stay consistent
            doclens = self._doclens_of(self.store.read_postings([new_id]))
        (
            doclens.repartitionByRange("chunk_id")
            .sortWithinPartitions("chunk_id")
            .write.mode("overwrite")
            .parquet(self.store.doclens_batch_path(new_id))
        )

        agg = written.get
        metric = {
            "batch_id": new_id,
            "first_chunk": min(int(r["first_chunk"]) for r in lineage),
            "last_chunk": max(int(r["last_chunk"]) for r in lineage),
            # n_docs stays the replaced rows' sum: lineage n_docs means
            # "doc ids COVERED/ALLOCATED by this batch" (ids are dense and
            # never reused; the docs table keeps tombstoned rows), so the
            # streaming torn-increment gate's identity
            # docs.count() == sum(lineage n_docs) survives purges
            "n_docs": total("n_docs"),
            "n_postings": int(agg["postings"] or 0),
            "n_rows_out": int(agg["rows"]),
            "bytes_postings": int(agg["bytes"] or 0),
            "wall_sec": time.time() - t0,
            "input_fingerprint": f"compaction:{committed}|purged:{n_deleted}",
            "engine_version": "0.1.0",
            "replaces": [int(b) for b in committed],
        }
        if tomb is not None:
            # a purge changes collection stats, and the lineage append
            # below is the visibility switch: a crash between the two
            # would leave purged postings scoring with stale pre-purge
            # stats.  Write a marker FIRST so that window is detectable —
            # engines refuse to open on it, and the next builder repairs
            # by re-running finalize() (idempotent either side of the
            # append).
            with open(self.store.pending_finalize_path, "w") as fh:
                json.dump({"batch_id": new_id}, fh)
        # append = the commit; a crash before this leaves invisible
        # orphan dirs (vacuum removes them), after it a consistent index
        self.store.append_lineage(metric)
        if tomb is not None:
            # physical purge changed the collection: recompute stats +
            # term_stats so scores match a fresh build over survivors.
            # finalize() takes total_postings from the committed lineage,
            # which is now the recounted compaction row.
            self.finalize()
            # tombstones are applied — retire them.  A crash between the
            # lineage commit and this rmtree is safe: the ids are already
            # absent from postings, so the logical exclusion no-ops and
            # the next compact() re-applies cleanly.
            shutil.rmtree(self.store.tombstones_path, ignore_errors=True)
            os.remove(self.store.pending_finalize_path)
        return {
            "compacted": True,
            "batch_id": new_id,
            "replaced": committed,
            "purged_docs": n_deleted,
        }

    def repair_pending_finalize(self) -> bool:
        """Recover from a crash inside a purging :meth:`compact`: if the
        ``_finalize_pending`` marker is on disk, stats/term_stats may not
        match the visible postings — re-run :meth:`finalize` (idempotent
        whether the crash hit before or after the lineage append: it
        recomputes from whatever is committed) and clear the marker.
        Called automatically at the start of :meth:`compact`; engines
        refuse to open while the marker exists."""
        marker = self.store.pending_finalize_path
        if not os.path.exists(marker):
            return False
        # a crashed finalize_incremental may have left term_stats staging/
        # retired dirs mid-swap; the full rebuild below replaces the live
        # table either way, so retire the leftovers first
        shutil.rmtree(self.store.term_stats_path + ".staging",
                      ignore_errors=True)
        shutil.rmtree(self.store.term_stats_path + ".retired",
                      ignore_errors=True)
        self.finalize()
        os.remove(marker)
        return True

    def vacuum(self) -> dict:
        """Delete batch dirs no committed lineage row references —
        pre-compaction data and crash-orphaned writes.  Run only while no
        build/ingest is in flight (an uncommitted in-progress batch looks
        identical to an orphan)."""
        keep = set(self.store.committed_batches())
        removed = []
        for sub in ("postings", "doclens"):
            base = self.store.dir / sub
            if not base.is_dir():
                continue
            for d in base.iterdir():
                if not d.name.startswith("batch="):
                    continue
                if int(d.name.split("=", 1)[1]) not in keep:
                    shutil.rmtree(str(d))
                    removed.append(str(d))
        return {"removed_dirs": removed}

    def verify_corpus(self, corpus: DataFrame) -> dict:
        """Per-row content sha256 equality between the docs table and the
        source corpus (north-rule invariant).  Returns mismatch counts —
        all zero on a healthy index."""
        src = corpus.select(
            "repo", "path", "commit",
            F.sha2(F.col(self.body_col), 256).alias("src_sha"),
        )
        docs = self.store.read_docs().select(
            "repo", "path", "commit", "sha256"
        )
        joined = docs.join(src, ["repo", "path", "commit"], "full_outer")
        row = joined.agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.col("sha256").isNull() | F.col("src_sha").isNull(), 1
                ).otherwise(0)
            ).alias("missing"),
            F.sum(
                F.when(F.col("sha256") != F.col("src_sha"), 1).otherwise(0)
            ).alias("sha_mismatch"),
        ).head()
        return {
            "rows": int(row.n),
            "missing": int(row.missing or 0),
            "sha_mismatch": int(row.sha_mismatch or 0),
        }

    def build_trigrams(self) -> None:
        """Optional vocabulary trigram table for spelling correction
        (reference ingestion.py:225-333)."""
        from search_engine_spark.query.spelling import build_trigram_table

        build_trigram_table(self.store)

    def build_all(
        self,
        corpus: DataFrame,
        resume: bool = True,
        trigrams: bool = False,
        concurrency: int | None = None,
    ) -> dict:
        self.build_docs(corpus)
        self.build_postings(corpus, resume=resume, concurrency=concurrency)
        stats = self.finalize()
        if trigrams:
            self.build_trigrams()
        return stats
