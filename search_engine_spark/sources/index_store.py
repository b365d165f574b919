"""Index table layout + lineage-gated readers.

Layout under ``<index_dir>/``  (parquet everywhere; an Iceberg runtime is
not available in this environment, so snapshot semantics are provided by
the ``lineage`` table: a batch's data files are only visible once its
lineage row is committed — readers resolve the committed batch list first
and read only those paths, which is the same commit protocol an Iceberg
manifest would give us):

``meta.json``    layout params pinned at build time (chunk_docs, buckets,
                 tokenizer, ...) — queries always read these, never trust
                 caller config
``docs/``        doc_id, repo, path, commit, lang, sha256
``doclens/batch=K/``  chunk_id, n_docs, doc_ids(bin), doc_lens(bin),
    title_lens(bin) — copied from the reserved-term "" rows the posting
    merge emits (single tokenize pass; build/kernels.py)
``postings/batch=K/bucket=B/``  term, chunk_id, df, doc_ids(bin),
    tfs_body(bin), tfs_title(bin), pos_body(bin), pos_title(bin),
    blk_last_doc(bin), blk_max_tfb(bin), blk_max_tft(bin),
    blk_min_dl(bin), blk_min_tl(bin)
``term_stats/bucket=B/``  term, df, n_chunks   (finalize artifact)
``stats/``       num_docs, avg_doc_len, avg_title_len, max_doc_len,
                 max_title_len, sum_doc_len, sum_title_len,
                 total_postings, ids_covered — one row, one file
``lineage/``     batch_id, first_chunk, last_chunk, n_docs, n_postings,
                 n_rows_out, bytes_postings, wall_sec, input_fingerprint,
                 engine_version, sum_doc_len, sum_title_len, max_doc_len,
                 max_title_len (+ ``replaces`` on compaction rows) — one
                 file per row

Bookkeeping is written driver-side with pyarrow, not by a Spark job: a
lineage row or the stats row is one small parquet file, written under a
hidden name and ``os.replace``-d into place.  The rename is the commit —
readers (Spark and pyarrow both skip ``.``-prefixed names) see a row
whole or not at all, and concurrent batches cannot collide because
every row file has its own name.  Files an older Spark writer left
(``part-*.parquet``) read the same way.

All binary columns are delta+varbyte (``functions/codec.py``).  The
reference keeps the same information in packed binary files + a marisa
trie + pickles (``ingestion.py:63-171``, ``convert_index_to_marisa.py``);
here the term dictionary is replaced by hash-bucket partition pruning +
parquet min/max + bloom filters on ``term``.
"""

from __future__ import annotations

import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from search_engine_spark.config import EngineConfig

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("df", T.IntegerType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs_body", T.BinaryType(), False),
        T.StructField("tfs_title", T.BinaryType(), False),
        T.StructField("pos_body", T.BinaryType(), False),
        T.StructField("pos_title", T.BinaryType(), False),
        T.StructField("blk_last_doc", T.BinaryType(), False),
        T.StructField("blk_max_tfb", T.BinaryType(), False),
        T.StructField("blk_max_tft", T.BinaryType(), False),
        T.StructField("blk_min_dl", T.BinaryType(), False),
        T.StructField("blk_min_tl", T.BinaryType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

PARTIALS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("doc_ids", T.ArrayType(T.LongType()), False),
        T.StructField("tfs_body", T.ArrayType(T.IntegerType()), False),
        T.StructField("tfs_title", T.ArrayType(T.IntegerType()), False),
        T.StructField("pos_body", T.ArrayType(T.IntegerType()), False),
        T.StructField("pos_title", T.ArrayType(T.IntegerType()), False),
        T.StructField("doc_lens", T.ArrayType(T.IntegerType()), False),
        T.StructField("title_lens", T.ArrayType(T.IntegerType()), False),
    ]
)

DOCLENS_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("doc_lens", T.BinaryType(), False),
        T.StructField("title_lens", T.BinaryType(), False),
    ]
)

# The readers below declare these instead of inferring them: inference is
# its own Spark job (a footer read) on every DataFrame a read creates.
DOCS_SCHEMA = (
    "doc_id long, repo string, path string, commit string, lang string, "
    "sha256 string"
)
TERM_STATS_SCHEMA = "term string, df long, n_chunks long, bucket int"
# the stats row, in column order; a column an older file lacks reads None
STATS_FIELDS = (
    "num_docs", "avg_doc_len", "avg_title_len", "max_doc_len",
    "max_title_len", "sum_doc_len", "sum_title_len", "total_postings",
    "ids_covered",
)
STATS_FILE = "stats.parquet"

# Bloom filter on ``term`` for every postings and term_stats write.  With
# no NDV given, parquet-mr sizes each filter at parquet.bloom.filter.
# max.bytes (1 MB) for every column chunk that is not dictionary-encoded
# — term_stats' all-distinct terms fall back to PLAIN, so a few hundred
# terms carried a 1 MB filter.  The adaptive writer keeps candidate
# filters halving down from that maximum and writes the smallest one that
# holds the chunk's distinct values at the default fpp (1 MB / 2^9 = 2 KB
# floor).  The candidate count is a per-column key; the adaptive switch
# is global.
TERM_BLOOM_OPTIONS = {
    "parquet.bloom.filter.enabled#term": "true",
    "parquet.bloom.filter.adaptive.enabled": "true",
    "parquet.bloom.filter.candidates.number#term": "10",
}


# layout fields baked into a built index — queries MUST use the builder's
# values (a bucket-count mismatch silently empties every term lookup)
LAYOUT_FIELDS = (
    "chunk_docs", "block_docs", "n_term_buckets", "chunks_per_batch",
    "tokenizer",
)


class IndexStore:
    def __init__(self, spark: SparkSession, index_dir: str, config: EngineConfig):
        self.spark = spark
        self.dir = Path(index_dir)
        self.config = config

    # ----- layout metadata -----
    @property
    def meta_path(self) -> str:
        return str(self.dir / "meta.json")

    def write_meta(self) -> None:
        import json

        self.dir.mkdir(parents=True, exist_ok=True)
        meta = {f: getattr(self.config, f) for f in LAYOUT_FIELDS}
        meta["engine_version"] = "0.1.0"
        with open(self.meta_path, "w") as fh:
            json.dump(meta, fh)

    def load_meta_into_config(self) -> EngineConfig:
        """Returns the config with layout fields replaced by the values the
        index was built with (no-op if no meta file)."""
        import dataclasses
        import json

        if not os.path.exists(self.meta_path):
            return self.config
        with open(self.meta_path) as fh:
            meta = json.load(fh)
        overrides = {f: meta[f] for f in LAYOUT_FIELDS if f in meta}
        self.config = dataclasses.replace(self.config, **overrides)
        return self.config

    # ----- paths -----
    @property
    def docs_path(self) -> str:
        return str(self.dir / "docs")

    @property
    def stats_path(self) -> str:
        return str(self.dir / "stats")

    @property
    def term_stats_path(self) -> str:
        return str(self.dir / "term_stats")

    @property
    def lineage_path(self) -> str:
        return str(self.dir / "lineage")

    def postings_batch_path(self, batch_id: int) -> str:
        return str(self.dir / "postings" / f"batch={batch_id}")

    def doclens_batch_path(self, batch_id: int) -> str:
        return str(self.dir / "doclens" / f"batch={batch_id}")

    @property
    def tombstones_path(self) -> str:
        return str(self.dir / "tombstones")

    @property
    def pending_finalize_path(self) -> str:
        """Marker written by a purging ``compact()`` before its lineage
        commit and removed after ``finalize()`` — present on disk only
        when a crash left purged postings visible with stale pre-purge
        collection stats (BM25 would be silently wrong)."""
        return str(self.dir / "_finalize_pending")

    # ----- driver-side bookkeeping commits -----
    @staticmethod
    def _write_hidden(directory: str, row: dict) -> str:
        """Writes ``row`` as a one-row parquet file under a hidden name in
        ``directory`` and returns its path; the caller's rename into a
        visible name is the commit.  Local-filesystem layout, like
        :meth:`lineage_rows_meta`."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(directory, exist_ok=True)
        tmp = os.path.join(directory, f".{uuid.uuid4().hex}.tmp")
        pq.write_table(pa.Table.from_pylist([row]), tmp)
        return tmp

    def append_lineage(self, row: dict) -> None:
        """Commits one lineage row: its own parquet file, visible only
        once the rename lands (the batch's commit point)."""
        tmp = self._write_hidden(self.lineage_path, row)
        name = f"batch-{int(row['batch_id'])}-{uuid.uuid4().hex}.parquet"
        os.replace(tmp, os.path.join(self.lineage_path, name))

    def write_stats(self, row: dict) -> None:
        """Replaces the stats row.  The new file is complete before any
        old one goes; in the usual case the rename swaps it over the old
        file atomically.  Files a Spark writer left (an index built before
        stats were written driver-side) are removed just before the
        rename — a missing-file window of one unlink + rename, where the
        Spark overwrite this replaces had one whole write job."""
        tmp = self._write_hidden(self.stats_path, row)
        for name in os.listdir(self.stats_path):
            path = os.path.join(self.stats_path, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            elif name != STATS_FILE and path != tmp:
                os.remove(path)
        os.replace(tmp, os.path.join(self.stats_path, STATS_FILE))

    @staticmethod
    def parquet_rows(paths) -> int:
        """Exact row count from parquet FOOTERS (driver-side metadata
        read, no Spark job) — for count gates on unfiltered parquet
        dirs/files, where the footer sum is the same number a
        ``.count()`` job would return.  O(#files) footer opens.

        Every listed path must exist: a streaming advance hands this the
        exact sink-log delta file list that ``spark.read.parquet(*delta)``
        will scan, and silently skipping a vanished file would undercount
        the gate and surface later as a confusing row-count mismatch
        instead of the real missing-file error."""
        import pyarrow.dataset as pads

        if isinstance(paths, str):
            paths = [paths]
        locs = [p[7:] if p.startswith("file://") else p for p in paths]
        missing = [p for p in locs if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                "listed parquet path(s) do not exist: " + ", ".join(missing)
            )
        if not locs:
            return 0
        # pyarrow only accepts directories as a SINGLE path argument —
        # split dirs from plain files and sum fragment footers
        dirs = [p for p in locs if os.path.isdir(p)]
        files = [p for p in locs if not os.path.isdir(p)]
        total = 0
        for src in dirs + ([files] if files else []):
            d = pads.dataset(src, format="parquet")
            total += sum(f.metadata.num_rows for f in d.get_fragments())
        return total

    def read_tombstones(self) -> DataFrame | None:
        """Deleted doc ids (deduplicated), or None when no deletions are
        pending.  Tombstones are LOGICAL deletes: query kernels exclude
        these ids (post-hoc-restriction semantics — collection stats keep
        counting them) until ``IndexBuilder.compact()`` physically purges
        them and recomputes stats (Lucene/Iceberg delete-file
        semantics)."""
        if not os.path.isdir(self.tombstones_path):
            return None
        return self.spark.read.schema("doc_id long").parquet(
            self.tombstones_path
        ).distinct()

    # ----- lineage-gated reads -----
    def read_lineage(self) -> DataFrame:
        """All lineage rows; ``mergeSchema`` because compaction rows carry
        an extra ``replaces`` column older rows lack."""
        return self.spark.read.option("mergeSchema", "true").parquet(
            self.lineage_path
        )

    def lineage_rows_meta(self, columns: list[str]) -> list[dict]:
        """Lineage rows read DRIVER-SIDE with pyarrow (per-fragment, so
        the mixed schema — compaction rows carry ``replaces``, plain
        batch rows don't — needs no mergeSchema pass).  The lineage
        table is O(#batches) tiny rows but is consulted by every engine
        open and every streaming advance; bookkeeping this small must
        not pay a Spark job per read.  Local-filesystem layout (the
        sandbox + spark-submit driver); a remote object store would pass
        a pyarrow filesystem here."""
        import pyarrow.dataset as pads

        out: list[dict] = []
        if not os.path.isdir(self.lineage_path):
            return out
        d = pads.dataset(self.lineage_path, format="parquet")
        for frag in d.get_fragments():
            names = set(frag.physical_schema.names)
            cols = [c for c in columns if c in names]
            t = frag.to_table(columns=cols)
            for i in range(t.num_rows):
                row = {c: t[c][i].as_py() for c in cols}
                for c in columns:
                    row.setdefault(c, None)
                out.append(row)
        return out

    def committed_lineage(self, columns: list[str]) -> list[dict]:
        """Lineage rows of visible batches = all rows minus any batch some
        row's ``replaces`` list names (the compaction commit protocol: one
        appended row atomically supersedes the batches it rewrote —
        Iceberg's snapshot semantics on the same commit point
        ``IndexBuilder._run_batch`` uses).  Metric sums (n_docs,
        n_postings) over these rows stay correct across compactions (a
        compaction row carries the sums of the rows it replaced).
        Driver-side metadata read — no Spark job."""
        rows = self.lineage_rows_meta(
            list(dict.fromkeys(["batch_id", "replaces", *columns]))
        )
        replaced: set[int] = set()
        for r in rows:
            if r["replaces"]:
                replaced.update(r["replaces"])
        return [r for r in rows if r["batch_id"] not in replaced]

    def committed_batches(self) -> list[int]:
        return sorted(r["batch_id"] for r in self.committed_lineage([]))

    def read_postings(self, batches: list[int] | None = None) -> DataFrame:
        if batches is None:
            batches = self.committed_batches()
        paths = [self.postings_batch_path(b) for b in batches]
        # basePath keeps the bucket partition column; batch dir itself is
        # not a column (constant per path)
        return self.spark.read.schema(POSTINGS_SCHEMA).option(
            "basePath", str(self.dir / "postings")
        ).parquet(*paths).drop("batch")

    def read_doclens(self, batches: list[int] | None = None) -> DataFrame:
        if batches is None:
            batches = self.committed_batches()
        paths = [self.doclens_batch_path(b) for b in batches]
        return self.spark.read.schema(DOCLENS_SCHEMA).option(
            "basePath", str(self.dir / "doclens")
        ).parquet(*paths).drop("batch")

    def read_docs(self) -> DataFrame:
        return self.spark.read.schema(DOCS_SCHEMA).parquet(self.docs_path)

    def read_doc_lens(self, batches: list[int] | None = None) -> DataFrame:
        """Decoded per-doc token lengths -> (doc_id, doc_len, title_len).
        ``batches`` restricts to specific lineage batches (an increment's
        O(increment) doclens instead of the whole index)."""

        def decode(batches):
            import pandas as pd

            from search_engine_spark.functions.codec import (
                delta_decode_docs,
                vb_decode,
            )

            import numpy as np

            for pdf in batches:
                if not len(pdf):
                    continue
                ids, dls, tls = [], [], []
                for row in pdf.itertuples(index=False):
                    ids.append(delta_decode_docs(row.doc_ids))
                    dls.append(vb_decode(row.doc_lens))
                    tls.append(vb_decode(row.title_lens))
                # one frame per Arrow batch, not per chunk row
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "doc_len": np.concatenate(dls).astype("int32"),
                        "title_len": np.concatenate(tls).astype("int32"),
                    }
                )

        return self.read_doclens(batches).mapInPandas(
            decode, "doc_id long, doc_len int, title_len int"
        )

    def read_stats(self) -> dict:
        """The stats row, read driver-side; a column an older stats file
        lacks reads None."""
        import pyarrow.dataset as pads

        for frag in pads.dataset(self.stats_path, format="parquet").get_fragments():
            rows = frag.to_table().to_pylist()
            if rows:
                return {f: rows[0].get(f) for f in STATS_FIELDS}
        raise FileNotFoundError(f"no stats row under {self.stats_path}")

    def read_term_stats(self) -> DataFrame:
        return self.spark.read.schema(TERM_STATS_SCHEMA).parquet(
            self.term_stats_path
        )

    def term_stats_for(self, tokens: list[str]) -> dict[str, int]:
        """df per token — partition-pruned lookup (bucket IN + term IN are
        both pushed to the parquet scan).  The table and its file listing
        are resolved once per store instance and the results memoized (the
        index is immutable once opened), so a lookup is one Spark job and
        repeated query terms skip it entirely."""
        if not tokens:
            return {}
        if getattr(self, "_df_cache", None) is None:
            # in this order: a thread that sees the memo sees the table
            self._term_stats = self.read_term_stats()
            self._df_cache = {}
        cache = self._df_cache
        missing = sorted({t for t in tokens if t not in cache})
        if missing:
            buckets = sorted(
                {term_bucket(t, self.config.n_term_buckets) for t in missing}
            )
            rows = (
                self._term_stats
                .where(
                    F.col("bucket").isin(buckets) & F.col("term").isin(missing)
                )
                .select("term", "df")
                .collect()
            )
            found = {r.term: r.df for r in rows}
            for t in missing:
                cache[t] = found.get(t, 0)
        return {t: cache[t] for t in set(tokens) if cache[t] > 0}


def term_bucket(term: str, n_buckets: int) -> int:
    """Deterministic, language-independent term shard (same value computable
    in Spark SQL via ``crc32(encode(term,'utf-8')) % n``)."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_bucket_col(col, n_buckets: int):
    return (F.crc32(F.encode(col, "utf-8")) % n_buckets).cast("int")
